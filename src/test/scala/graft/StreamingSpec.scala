package graft


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.IncrementalStream

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private val sf = "/root/testdata/sf0.001"

  test("streaming dedup + daily counts match the batch equivalents") {
    val tmp = TempDirs.create("graft-stream").toFile
    val inDir = new java.io.File(tmp, "in"); inDir.mkdirs()

    // stage the events table as an "arriving" file drop, with planted
    // duplicates (the reference's window re-pull behavior)
    val events = Tables(spark, sf, "events")
    events.write.mode("overwrite").parquet(inDir.getAbsolutePath)
    events.limit(100).write.mode("append").parquet(inDir.getAbsolutePath)

    val schema = spark.read.parquet(inDir.getAbsolutePath).schema
    val stream = IncrementalStream.readAppendStream(
      spark, inDir.getAbsolutePath, schema)

    val deduped = IncrementalStream.dedupWithinWatermark(
      stream, "ts", "2 days", Seq("event_id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("dedup_out").count()
    assert(got == events.count(), "dup rows must collapse to one per key")

    val daily = IncrementalStream.dailyCounts(stream, "ts", "event_type")
    val q2 = daily.writeStream.format("memory").queryName("daily_out")
      .outputMode("append").start()
    q2.processAllAvailable(); q2.stop()
    // append mode only emits windows the watermark has passed; with
    // duplicated input the emitted counts must match batch counts of
    // the duplicated input for those days
    val emitted = spark.table("daily_out")
    val batch = spark.read.parquet(inDir.getAbsolutePath)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val mismatches = emitted.as("e")
      .join(batch.as("b"),
        col("e.day") === col("b.day") &&
          col("e.event_type") === col("b.event_type"))
      .filter(col("e.n") =!= col("b.n"))
    assert(mismatches.count() == 0)

    val ckpt = new java.io.File(tmp, "ckpt")
    val out = new java.io.File(tmp, "out")
    val q3 = IncrementalStream.runAvailableNow(
      IncrementalStream.dedupWithinWatermark(stream, "ts", "2 days",
        Seq("event_id")),
      out.getAbsolutePath, ckpt.getAbsolutePath)
    q3.awaitTermination()
    assert(spark.read.parquet(out.getAbsolutePath).count() == events.count())
  }

  test("streaming sessionization emits closed sessions with batch semantics") {
    val tmp = TempDirs.create("graft-sess").toFile
    val inDir = new java.io.File(tmp, "in"); inDir.mkdirs()

    // base offset keeps event times off epoch 0: the initial watermark
    // IS 0, and the stateful late-row filter drops rows at/before it
    val baseMs = 86400000L
    def ts(min: Long) = new java.sql.Timestamp(baseMs + min * 60000L)
    import spark.implicits._
    // user 1: two sessions (0-10 min, then 60-70 min; 30-min gap);
    // user 2: one event, closed only by the event-time timeout once
    // the watermark (driven by user 1's later events) passes 0 + gap
    Seq((1L, ts(0)), (1L, ts(10)), (2L, ts(0)))
      .toDF("user_id", "ts").write.mode("overwrite")
      .parquet(inDir.getAbsolutePath)
    Seq((1L, ts(60)), (1L, ts(70)))
      .toDF("user_id", "ts").write.mode("append")
      .parquet(inDir.getAbsolutePath)

    val schema = spark.read.parquet(inDir.getAbsolutePath).schema
    val stream = IncrementalStream.readAppendStream(
      spark, inDir.getAbsolutePath, schema)
    val q = IncrementalStream
      .sessionizeStream(stream, "user_id", "ts",
        gapMs = 30 * 60000L, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("sess_out")
      .select("user_id", "session_id", "n_events", "start_us", "end_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // user 1's open second session (60-70) must NOT be emitted: the
    // watermark (70 - 10 = 60 min) hasn't passed its gap edge (100)
    val baseUs = baseMs * 1000L
    assert(got == Set(
      (1L, 1L, 2L, baseUs, baseUs + 10L * 60000000L),
      (2L, 1L, 1L, baseUs, baseUs)),
      s"got: $got")
  }

  test("sessionization state and numbering survive real micro-batch " +
      "boundaries (timeout + gap-close both fire ACROSS batches)") {
    val tmp = TempDirs.create("graft-sess-mb").toFile
    val inDir = new java.io.File(tmp, "in"); inDir.mkdirs()
    val baseMs = 86400000L
    def ts(min: Long) = new java.sql.Timestamp(baseMs + min * 60000L)
    import spark.implicits._
    // file/batch 1: user 1 opens a session (0-10 min), user 2 one event
    Seq((1L, ts(0)), (1L, ts(10)), (2L, ts(0)))
      .toDF("user_id", "ts").coalesce(1).write.mode("overwrite")
      .parquet(inDir.getAbsolutePath)
    Thread.sleep(1200) // distinct mtimes → deterministic file order
    // file/batch 2: user 1 returns past the 30-min gap. Closing the
    // batch-1 session requires its state to RELOAD across the batch
    // boundary; the watermark advance (70 − 10 = 60 min) then times
    // out user 2's still-open batch-1 session. Neither path can run
    // unless state and watermark genuinely persist between batches —
    // the thing a single-batch replay never exercises.
    Seq((1L, ts(60)), (1L, ts(70)))
      .toDF("user_id", "ts").coalesce(1).write.mode("append")
      .parquet(inDir.getAbsolutePath)

    val schema = spark.read.parquet(inDir.getAbsolutePath).schema
    val stream = IncrementalStream.readAppendStream(
      spark, inDir.getAbsolutePath, schema, maxFilesPerTrigger = Some(1))
    val q = IncrementalStream
      .sessionizeStream(stream, "user_id", "ts",
        gapMs = 30 * 60000L, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_mb_out")
      .outputMode("append").start()
    q.processAllAvailable()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(batches >= 2, s"expected >=2 non-empty micro-batches, got $batches")

    val got = spark.table("sess_mb_out")
      .select("user_id", "session_id", "n_events", "start_us", "end_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val baseUs = baseMs * 1000L
    // identical output to the single-batch replay: batching must not
    // change semantics. User 1's second session (60-70) stays open —
    // the watermark hasn't passed its gap edge — proving numbering
    // state also carried over (it will be session_id 2 when closed).
    assert(got == Set(
      (1L, 1L, 2L, baseUs, baseUs + 10L * 60000000L),
      (2L, 1L, 1L, baseUs, baseUs)),
      s"got: $got")
  }

  test("stream-stream interval join matches the batch interval join") {
    val tmp = TempDirs.create("graft-sjoin").toFile
    val lDir = new java.io.File(tmp, "l"); lDir.mkdirs()
    val rDir = new java.io.File(tmp, "r"); rDir.mkdirs()

    val baseMs = 86400000L
    def ts(min: Long) = new java.sql.Timestamp(baseMs + min * 60000L)
    import spark.implicits._
    // clicks for users 1,2; purchases in/out of the 60-min window,
    // including one exactly ON the boundary (inclusive) and one
    // BEFORE its click (must not match)
    Seq((1L, 10L, ts(0)), (1L, 11L, ts(30)), (2L, 12L, ts(0)))
      .toDF("user_id", "click_id", "click_ts")
      .write.mode("overwrite").parquet(lDir.getAbsolutePath)
    Seq((1L, 20L, ts(45)), (1L, 21L, ts(90)), (2L, 22L, ts(60)),
        (2L, 23L, ts(61)), (3L, 24L, ts(5)))
      .toDF("buy_user", "buy_id", "buy_ts")
      .write.mode("overwrite").parquet(rDir.getAbsolutePath)

    val lSchema = spark.read.parquet(lDir.getAbsolutePath).schema
    val rSchema = spark.read.parquet(rDir.getAbsolutePath).schema
    val joined = IncrementalStream.intervalJoin(
      IncrementalStream.readAppendStream(spark, lDir.getAbsolutePath, lSchema),
      "click_ts",
      IncrementalStream.readAppendStream(spark, rDir.getAbsolutePath, rSchema),
      "buy_ts",
      col("user_id") === col("buy_user"), "60 minutes", "1 day")
    val q = joined.writeStream.format("memory").queryName("sjoin_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("sjoin_out")
      .select("user_id", "click_id", "buy_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // click 10 (t0): buy 20 (t45) in window, 21 (t90) out;
    // click 11 (t30): buys 45 and 90 both within [30, 90] — boundary
    // inclusive; click 12 (t0): buy 22 (t60) ON the boundary in, 23
    // (t61) out; user 3's purchase has no click
    assert(got == Set((1L, 10L, 20L), (1L, 11L, 20L), (1L, 11L, 21L),
      (2L, 12L, 22L)), s"got: $got")
  }

  test("left-outer interval join: null-extension emits ONLY on " +
      "watermark eviction — a closed window emits, an open one stays " +
      "in state unemitted, and the watermark is the min across the " +
      "two branches") {
    val tmp = TempDirs.create("graft-sojoin").toFile
    val lDir = new java.io.File(tmp, "l"); lDir.mkdirs()
    val rDir = new java.io.File(tmp, "r"); rDir.mkdirs()
    val baseMs = 86400000L
    def ts(min: Long) = new java.sql.Timestamp(baseMs + min * 60000L)
    import spark.implicits._
    def buildQuery() = {
      val lSchema = spark.read.parquet(lDir.getAbsolutePath).schema
      val rSchema = spark.read.parquet(rDir.getAbsolutePath).schema
      IncrementalStream.intervalJoinOuter(
        IncrementalStream.readAppendStream(spark, lDir.getAbsolutePath, lSchema),
        "click_ts",
        IncrementalStream.readAppendStream(spark, rDir.getAbsolutePath, rSchema),
        "buy_ts",
        col("user_id") === col("buy_user"), "60 minutes", "10 minutes")
        .writeStream.format("memory").queryName("sojoin_out")
        .outputMode("append").start()
    }
    // batch 1: click 10 will match (inner emits as it arrives);
    // click 11 never matches — its window [0, 60] needs the watermark
    // past t70 to close
    Seq((1L, 10L, ts(0)), (2L, 11L, ts(0)))
      .toDF("user_id", "click_id", "click_ts")
      .write.mode("overwrite").parquet(lDir.getAbsolutePath)
    Seq((1L, 20L, ts(30)))
      .toDF("buy_user", "buy_id", "buy_ts")
      .write.mode("overwrite").parquet(rDir.getAbsolutePath)
    val q = buildQuery(); q.processAllAvailable()
    val afterB1 = spark.table("sojoin_out")
      .select("user_id", "click_id", "buy_id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(afterB1 == Set((1L, 10L, 20L)),
      s"click 11 must still be waiting in state, got: $afterB1")
    // batch 2 advances BOTH branches far past click 11's window (the
    // watermark is min(left max, right max) − delay, so both sides
    // must move) — plus a fresh click whose window stays open and so
    // must NOT emit
    Seq((3L, 12L, ts(1000)))
      .toDF("user_id", "click_id", "click_ts")
      .write.mode("append").parquet(lDir.getAbsolutePath)
    Seq((9L, 21L, ts(1000)))
      .toDF("buy_user", "buy_id", "buy_ts")
      .write.mode("append").parquet(rDir.getAbsolutePath)
    q.processAllAvailable(); q.stop()
    val afterB2 = spark.table("sojoin_out")
      .select("user_id", "click_id", "buy_id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(afterB2 == Set((1L, 10L, 20L), (2L, 11L, -1L)),
      s"click 11 must emit null-extended on eviction and click 12 " +
        s"(window open) must not emit, got: $afterB2")
  }

  test("streaming canonical dedup keeps the batch representative (min id)") {
    val tmp = TempDirs.create("graft-cdedup").toFile
    val inDir = new java.io.File(tmp, "in"); inDir.mkdirs()

    // documents with planted duplicate content prefixes; write the
    // HIGH ids first so arrival order disagrees with canonical order —
    // dropDuplicates would keep the wrong representative
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), md5(substring(col("text"), 1, 40).cast("binary"))
        .as("key_hash"))
    docs.orderBy(col("doc_id").desc)
      .write.mode("overwrite").parquet(inDir.getAbsolutePath)
    docs.limit(50).write.mode("append").parquet(inDir.getAbsolutePath)

    val schema = spark.read.parquet(inDir.getAbsolutePath).schema
    val stream = IncrementalStream.readAppendStream(
      spark, inDir.getAbsolutePath, schema)
    val q = IncrementalStream
      .canonicalDedupStream(stream, "doc_id", "key_hash")
      .writeStream.format("memory").queryName("cdedup_out")
      .outputMode("update").start()
    q.processAllAvailable(); q.stop()

    // update-mode re-emissions: keep_id decreases monotonically per
    // digest and n_copies increases, so min/max give the final state
    val got = spark.table("cdedup_out")
      .groupBy("key_digest")
      .agg(min("keep_id").as("keep_id"), max("n_copies").as("n_copies"))
    // batch-side truth, same grouping semantics as Dedup.exactDedup
    // (the digest here is precomputed, so group on it directly)
    val want = spark.read.parquet(inDir.getAbsolutePath)
      .groupBy(col("key_hash").as("key_digest"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "streaming canonical dedup must equal batch exactDedup")
  }

  test("keyed dedup state survives batch boundaries and EVICTS at the " +
      "watermark (re-arrival after eviction re-emits)") {
    val tmp = TempDirs.create("graft-kdedup").toFile
    val inDir = new java.io.File(tmp, "in"); inDir.mkdirs()
    val baseMs = 86400000L // off epoch 0: the initial watermark IS 0
    def ts(min: Long) = new java.sql.Timestamp(baseMs + min * 60000L)
    import spark.implicits._
    // delay = 10 min. Batch 1: A emits once (t0; t5 dup dropped
    // in-batch), C emits (t0). Watermark after: max(0, 5-10) = 0.
    Seq(("A", ts(0)), ("A", ts(5)), ("C", ts(0)))
      .toDF("k", "ts").coalesce(1).write.mode("overwrite")
      .parquet(inDir.getAbsolutePath)
    Thread.sleep(1200) // distinct mtimes → deterministic file order
    // Batch 2: C's dup (t2) must be dropped — possible ONLY if C's
    // dedup state reloaded across the boundary; B (t60) emits. The
    // watermark then advances toward 50, past A's expiration (0+10)
    // and C's (0+10).
    Seq(("C", ts(2)), ("B", ts(60)))
      .toDF("k", "ts").coalesce(1).write.mode("append")
      .parquet(inDir.getAbsolutePath)
    Thread.sleep(1200)
    // Batch 3: pure watermark-advancer (B's dup drops against B's
    // still-live state, expires 70). Running a batch with watermark 50
    // evicts A and C — whether the store cleans up before or after
    // row processing, they are gone by the batch-3 commit. A separate
    // batch keeps the eviction unambiguous: evicted-key re-arrival in
    // the SAME batch as the eviction would depend on cleanup order.
    Seq(("B", ts(65)))
      .toDF("k", "ts").coalesce(1).write.mode("append")
      .parquet(inDir.getAbsolutePath)
    Thread.sleep(1200)
    // Batch 4: A and C re-arrive AFTER their eviction and must
    // RE-emit (the documented within-watermark contract: eviction is
    // what bounds state; a re-arrival re-opens the key). Event times
    // sit above the current watermark (55) so they are not late.
    Seq(("A", ts(56)), ("C", ts(57)))
      .toDF("k", "ts").coalesce(1).write.mode("append")
      .parquet(inDir.getAbsolutePath)

    val schema = spark.read.parquet(inDir.getAbsolutePath).schema
    val stream = IncrementalStream.readAppendStream(
      spark, inDir.getAbsolutePath, schema, maxFilesPerTrigger = Some(1))
    val q = IncrementalStream
      .dedupKeysWithinWatermark(stream, "ts", "10 minutes", Seq("k"))
      .select(col("k"))
      .writeStream.format("memory").queryName("kdedup_out")
      .outputMode("append").start()
    q.processAllAvailable()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(batches >= 4, s"expected >=4 non-empty micro-batches, got $batches")
    val got = spark.table("kdedup_out").groupBy("k").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("A" -> 2L, "B" -> 1L, "C" -> 2L), s"got: $got")
  }

  test("checkpoint recovery: a REBUILT query resumes offsets and session " +
      "state, and its output equals the uninterrupted run") {
    val tmp = TempDirs.create("graft-ckpt").toFile
    val inDir = new java.io.File(tmp, "in"); inDir.mkdirs()
    val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
    val out = new java.io.File(tmp, "out").getAbsolutePath
    val baseMs = 86400000L
    def ts(min: Long) = new java.sql.Timestamp(baseMs + min * 60000L)
    import spark.implicits._
    def buildQuery() = {
      val schema = spark.read.parquet(inDir.getAbsolutePath).schema
      val stream = IncrementalStream.readAppendStream(
        spark, inDir.getAbsolutePath, schema)
      IncrementalStream
        .sessionizeStream(stream, "user_id", "ts",
          gapMs = 30 * 60000L, watermark = "10 minutes")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }
    // incarnation 1: user 1 opens a session, user 2 one event; the
    // watermark (10 − 10 = 0) closes nothing, so ALL progress lives in
    // checkpointed state when the query stops ("crashes")
    Seq((1L, ts(0)), (1L, ts(10)), (2L, ts(0)))
      .toDF("user_id", "ts").coalesce(1).write.mode("overwrite")
      .parquet(inDir.getAbsolutePath)
    val q1 = buildQuery(); q1.processAllAvailable(); q1.stop()
    // file 2 arrives while the query is DOWN
    Seq((1L, ts(60)), (1L, ts(70)))
      .toDF("user_id", "ts").coalesce(1).write.mode("append")
      .parquet(inDir.getAbsolutePath)
    // incarnation 2: a brand-new query object on the SAME checkpoint.
    // Closing user 1's batch-1 session (gap) and timing out user 2's
    // (watermark advance) are only possible if the rebuilt query
    // RELOADED incarnation 1's state from the checkpoint.
    val q2 = buildQuery(); q2.processAllAvailable(); q2.stop()
    val resumedRows = q2.recentProgress.map(_.numInputRows).sum
    assert(resumedRows == 2,
      s"incarnation 2 must resume from the checkpointed offset (only " +
        s"the 2 new rows), not re-read file 1; processed $resumedRows")
    def resultSet(dir: String) = spark.read.parquet(dir)
      .select("user_id", "session_id", "n_events", "start_us", "end_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val baseUs = baseMs * 1000L
    val want = Set(
      (1L, 1L, 2L, baseUs, baseUs + 10L * 60000000L),
      (2L, 1L, 1L, baseUs, baseUs))
    assert(resultSet(out) == want, s"got: ${resultSet(out)}")
    // uninterrupted control: one incarnation over the same final input
    // (fresh checkpoint/sink) must produce the identical set
    val ckpt2 = new java.io.File(tmp, "ckpt2").getAbsolutePath
    val out2 = new java.io.File(tmp, "out2").getAbsolutePath
    val schema = spark.read.parquet(inDir.getAbsolutePath).schema
    val qc = IncrementalStream
      .sessionizeStream(IncrementalStream.readAppendStream(
        spark, inDir.getAbsolutePath, schema), "user_id", "ts",
        gapMs = 30 * 60000L, watermark = "10 minutes")
      .writeStream.format("parquet").option("path", out2)
      .option("checkpointLocation", ckpt2)
      .outputMode("append").start()
    qc.processAllAvailable(); qc.stop()
    assert(resultSet(out2) == resultSet(out),
      "recovered run must equal the uninterrupted run")
  }

  test("checkpoint recovery: keyed-dedup STATE reloads across an " +
      "incarnation rebuild (post-restart dup drops; output equals the " +
      "uninterrupted run)") {
    val tmp = TempDirs.create("graft-ckpt-kd").toFile
    val inDir = new java.io.File(tmp, "in"); inDir.mkdirs()
    val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
    val out = new java.io.File(tmp, "out").getAbsolutePath
    val baseMs = 86400000L
    def ts(min: Long) = new java.sql.Timestamp(baseMs + min * 60000L)
    import spark.implicits._
    def buildQuery() = {
      val schema = spark.read.parquet(inDir.getAbsolutePath).schema
      IncrementalStream
        .dedupKeysWithinWatermark(IncrementalStream.readAppendStream(
          spark, inDir.getAbsolutePath, schema), "ts", "10 minutes",
          Seq("k"))
        .select(col("k"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }
    // incarnation 1: A and C emit once each; their dedup entries live
    // only in checkpointed state when the query stops ("crashes")
    Seq(("A", ts(0)), ("C", ts(1)))
      .toDF("k", "ts").coalesce(1).write.mode("overwrite")
      .parquet(inDir.getAbsolutePath)
    val q1 = buildQuery(); q1.processAllAvailable(); q1.stop()
    // file 2 arrives while the query is DOWN: C's duplicate (t2, within
    // the watermark window) and a new key B
    Seq(("C", ts(2)), ("B", ts(3)))
      .toDF("k", "ts").coalesce(1).write.mode("append")
      .parquet(inDir.getAbsolutePath)
    // incarnation 2: a brand-new query object on the SAME checkpoint.
    // Dropping C's dup is possible ONLY if the rebuilt query reloaded
    // incarnation 1's dedup STATE (an offsets-only resume would re-emit C)
    val q2 = buildQuery(); q2.processAllAvailable(); q2.stop()
    val resumedRows = q2.recentProgress.map(_.numInputRows).sum
    assert(resumedRows == 2,
      s"incarnation 2 must resume from the checkpointed offset; " +
        s"processed $resumedRows")
    def emitted(dir: String) = spark.read.parquet(dir).groupBy("k").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(emitted(out) == Map("A" -> 1L, "B" -> 1L, "C" -> 1L),
      s"got: ${emitted(out)}")
    // uninterrupted control over the same final input
    val ckpt2 = new java.io.File(tmp, "ckpt2").getAbsolutePath
    val out2 = new java.io.File(tmp, "out2").getAbsolutePath
    val schema = spark.read.parquet(inDir.getAbsolutePath).schema
    val qc = IncrementalStream
      .dedupKeysWithinWatermark(IncrementalStream.readAppendStream(
        spark, inDir.getAbsolutePath, schema), "ts", "10 minutes",
        Seq("k"))
      .select(col("k"))
      .writeStream.format("parquet").option("path", out2)
      .option("checkpointLocation", ckpt2)
      .outputMode("append").start()
    qc.processAllAvailable(); qc.stop()
    assert(emitted(out2) == emitted(out),
      "recovered run must equal the uninterrupted run")
  }

  test("checkpoint recovery: windowed-aggregation state reloads across " +
      "an incarnation rebuild (counts from before the crash survive " +
      "into the post-restart emission)") {
    val tmp = TempDirs.create("graft-ckpt-agg").toFile
    val inDir = new java.io.File(tmp, "in"); inDir.mkdirs()
    val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
    val out = new java.io.File(tmp, "out").getAbsolutePath
    // day windows are epoch-aligned; put rows mid-day-1 so the window
    // is unambiguous and the initial watermark (0) is below them
    def ts(dayMin: Long) =
      new java.sql.Timestamp(86400000L + dayMin * 60000L)
    import spark.implicits._
    def buildQuery() = {
      val schema = spark.read.parquet(inDir.getAbsolutePath).schema
      IncrementalStream
        .dailyCounts(IncrementalStream.readAppendStream(
          spark, inDir.getAbsolutePath, schema), "ts", "event_type",
          watermark = "1 hour")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }
    // incarnation 1: three clicks + one view land in day 1; nothing is
    // emitted (append mode, watermark far below day end), so the
    // partial counts live ONLY in checkpointed aggregation state
    Seq(("click", ts(0)), ("click", ts(1)), ("view", ts(2)),
        ("click", ts(3)))
      .toDF("event_type", "ts").coalesce(1).write.mode("overwrite")
      .parquet(inDir.getAbsolutePath)
    val q1 = buildQuery(); q1.processAllAvailable(); q1.stop()
    // (an unreadable/absent sink dir also means zero rows emitted)
    val preRows =
      try spark.read.parquet(out).count() catch { case _: Exception => 0L }
    assert(preRows == 0,
      "nothing may be emitted before the watermark passes the window")
    // file 2 arrives while the query is DOWN: one more view in day 1,
    // plus a day-3 row whose watermark (day3 − 1h) closes day 1
    Seq(("view", ts(10)), ("late_driver", ts(2 * 1440L)))
      .toDF("event_type", "ts").coalesce(1).write.mode("append")
      .parquet(inDir.getAbsolutePath)
    // incarnation 2: emitting click=3/view=2 for day 1 requires the
    // pre-crash partial counts to have RELOADED from the checkpoint —
    // an offsets-only resume would emit click=0/view=1
    val q2 = buildQuery(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(out)
      .select("event_type", "n")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("click" -> 3L, "view" -> 2L), s"got: $got")
  }

  test("checkpoint recovery: the WATERMARK reloads across an " +
      "incarnation rebuild — a late row arriving after restart is " +
      "dropped against the reloaded value, not a reset one") {
    val tmp = TempDirs.create("graft-ckpt-wm").toFile
    val inDir = new java.io.File(tmp, "in"); inDir.mkdirs()
    val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
    val out = new java.io.File(tmp, "out").getAbsolutePath
    def ts(dayMin: Long) =
      new java.sql.Timestamp(86400000L + dayMin * 60000L)
    import spark.implicits._
    def writeFile(rows: Seq[(String, java.sql.Timestamp)]): Unit = {
      rows.toDF("event_type", "ts").coalesce(1).write.mode("append")
        .parquet(inDir.getAbsolutePath)
      Thread.sleep(20) // distinct mtimes for the per-file trigger order
    }
    def buildQuery() = {
      val schema = spark.read.parquet(inDir.getAbsolutePath).schema
      IncrementalStream
        .dailyCounts(IncrementalStream.readAppendStream(
          spark, inDir.getAbsolutePath, schema,
          maxFilesPerTrigger = Some(1)), "ts", "event_type",
          watermark = "1 hour")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
    }
    // incarnation 1, two real micro-batches: day-1 clicks, then a
    // day-5 row that advances the committed watermark to day5 − 1h —
    // day 1 is NOT yet evicted (eviction in batch 2 used batch 2's
    // watermark, computed from batch 1's max = mid-day-1)
    writeFile(Seq(("click", ts(0)), ("click", ts(3))))
    writeFile(Seq(("driver", ts(4 * 1440L))))
    val q1 = buildQuery(); q1.processAllAvailable(); q1.stop()
    // incarnation 2: ONE late day-1 click arrives. The late filter in
    // the restart's first batch must use the RELOADED day5−1h
    // watermark (drop the row), and eviction then emits day 1 with
    // the pre-crash count 2. A watermark reset to epoch would either
    // merge the late row (click=3) or evict nothing (no rows at all).
    writeFile(Seq(("click", ts(7))))
    val q2 = buildQuery(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(out)
      .select("event_type", "n")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("click" -> 2L),
      s"expected the late row dropped against the reloaded watermark " +
        s"and day 1 emitted at its pre-crash count; got $got")
  }

  test("checkpoint recovery: the EMA's NUMERIC state (rn, ema) reloads " +
      "across an incarnation rebuild — the post-restart step continues " +
      "the recurrence instead of restarting it") {
    val tmp = TempDirs.create("graft-ckpt-ema").toFile
    val inDir = new java.io.File(tmp, "in"); inDir.mkdirs()
    val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
    import spark.implicits._
    def buildQuery(buf: scala.collection.mutable.ArrayBuffer[
        (Long, Long, Long, Long, Long)]) = {
      val schema = spark.read.parquet(inDir.getAbsolutePath).schema
      IncrementalStream.emaStream(
          IncrementalStream.readAppendStream(
            spark, inDir.getAbsolutePath, schema), aNum = 1, aDen = 4)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.collect().map(r => (r.getLong(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4)))
          buf.synchronized { buf ++= rows }
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()
    }
    // incarnation 1: user 1 takes two steps — ema 100, then
    // (200 + 3·100)/4 = 125; the (rn = 2, ema = 125) state lives only
    // in the checkpoint when the query stops ("crashes")
    Seq((1L, 1L, 101L, 100L), (1L, 2L, 102L, 200L))
      .toDF("user_id", "us", "event_id", "v_e6")
      .coalesce(1).write.mode("overwrite").parquet(inDir.getAbsolutePath)
    val buf1 = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    val q1 = buildQuery(buf1); q1.processAllAvailable(); q1.stop()
    assert(buf1.sorted.toSeq == Seq((1L, 1L, 101L, 100L, 100L),
      (1L, 2L, 102L, 200L, 125L)), s"incarnation 1 got: $buf1")
    // file 2 arrives while the query is DOWN: user 1's third event and
    // a brand-new user
    Seq((1L, 3L, 103L, 300L), (2L, 1L, 104L, 77L))
      .toDF("user_id", "us", "event_id", "v_e6")
      .coalesce(1).write.mode("append").parquet(inDir.getAbsolutePath)
    // incarnation 2: a brand-new query object on the SAME checkpoint.
    // Emitting rn = 3, ema = (300 + 3·125)/4 = 168 is possible ONLY if
    // the rebuilt query reloaded incarnation 1's (rn, ema) — an
    // offsets-only resume with fresh state would emit rn = 1, ema = 300
    val buf2 = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    val q2 = buildQuery(buf2); q2.processAllAvailable(); q2.stop()
    val resumedRows = q2.recentProgress.map(_.numInputRows).sum
    assert(resumedRows == 2,
      s"incarnation 2 must resume from the checkpointed offset; " +
        s"processed $resumedRows")
    assert(buf2.sorted.toSeq == Seq((1L, 3L, 103L, 300L, 168L),
      (2L, 1L, 104L, 77L, 77L)), s"incarnation 2 got: $buf2")
  }

  test("checkpoint recovery under SCHEMA EVOLUTION: an incarnation " +
      "rebuilt with an ADDED input column resumes the keyed (rn, ema) " +
      "state — upstream adding a field must not invalidate the state " +
      "store") {
    val tmp = TempDirs.create("graft-ckpt-evo").toFile
    val inDir = new java.io.File(tmp, "in"); inDir.mkdirs()
    val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
    import spark.implicits._
    def buildQuery(schema: org.apache.spark.sql.types.StructType,
        buf: scala.collection.mutable.ArrayBuffer[
          (Long, Long, Long, Long, Long)]) =
      IncrementalStream.emaStream(
          IncrementalStream.readAppendStream(
            spark, inDir.getAbsolutePath, schema), aNum = 1, aDen = 4)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.collect().map(r => (r.getLong(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4)))
          buf.synchronized { buf ++= rows }
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()
    // incarnation 1 reads the v1 schema (no `source` column); user 1's
    // (rn = 2, ema = 125) lives only in the checkpoint at stop
    Seq((1L, 1L, 101L, 100L), (1L, 2L, 102L, 200L))
      .toDF("user_id", "us", "event_id", "v_e6")
      .coalesce(1).write.mode("overwrite").parquet(inDir.getAbsolutePath)
    val v1 = spark.read.parquet(inDir.getAbsolutePath).schema
    val buf1 = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    val q1 = buildQuery(v1, buf1); q1.processAllAvailable(); q1.stop()
    assert(buf1.sorted.toSeq == Seq((1L, 1L, 101L, 100L, 100L),
      (1L, 2L, 102L, 200L, 125L)), s"incarnation 1 got: $buf1")
    // while the query is DOWN the producer EVOLVES the schema: file 2
    // carries an added `source` column
    Seq((1L, 3L, 103L, 300L, "mobile"), (2L, 1L, 104L, 77L, "web"))
      .toDF("user_id", "us", "event_id", "v_e6", "source")
      .coalesce(1).write.mode("append").parquet(inDir.getAbsolutePath)
    // incarnation 2 is rebuilt against the EVOLVED v2 schema. The
    // projection drops the added column before the keyed state, so the
    // state-store schema is unchanged — emitting rn = 3 / ema = 168
    // proves the pre-evolution state reloaded under the new reader
    // schema (fresh state would emit rn = 1 / ema = 300)
    val v2 = org.apache.spark.sql.types.StructType(v1.fields :+
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType))
    val buf2 = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    val q2 = buildQuery(v2, buf2); q2.processAllAvailable(); q2.stop()
    val resumedRows = q2.recentProgress.map(_.numInputRows).sum
    assert(resumedRows == 2,
      s"incarnation 2 must resume from the checkpointed offset; " +
        s"processed $resumedRows")
    assert(buf2.sorted.toSeq == Seq((1L, 3L, 103L, 300L, 168L),
      (2L, 1L, 104L, 77L, 77L)), s"incarnation 2 got: $buf2")
  }

  test("checkpoint recovery: the anomaly flagger's (rn, ema, dev) " +
      "state reloads across an incarnation rebuild — post-restart " +
      "FLAG DECISIONS are made against the pre-crash deviation state") {
    val tmp = TempDirs.create("graft-ckpt-anom").toFile
    val inDir = new java.io.File(tmp, "in"); inDir.mkdirs()
    val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
    import spark.implicits._
    def buildQuery(buf: scala.collection.mutable.ArrayBuffer[
        (Long, Long, Long, Long, Long, Long, Int)]) = {
      val schema = spark.read.parquet(inDir.getAbsolutePath).schema
      IncrementalStream.anomalyStream(
          IncrementalStream.readAppendStream(
            spark, inDir.getAbsolutePath, schema),
          aNum = 1, aDen = 4, kNum = 5, kDen = 2, minDevE6 = 10L,
          warmup = 1L)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.collect().map(r => (r.getLong(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            r.getInt(6)))
          buf.synchronized { buf ++= rows }
          ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()
    }
    // incarnation 1: 100 then a 200 spike — flagged (2·100 > 20),
    // leaving (rn = 2, ema = 125, dev = 25) only in the checkpoint
    Seq((1L, 1L, 101L, 100L), (1L, 2L, 102L, 200L))
      .toDF("user_id", "us", "event_id", "v_e6")
      .coalesce(1).write.mode("overwrite").parquet(inDir.getAbsolutePath)
    val buf1 = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long, Int)]
    val q1 = buildQuery(buf1); q1.processAllAvailable(); q1.stop()
    assert(buf1.sorted.toSeq == Seq(
      (1L, 1L, 101L, 100L, 100L, 0L, 0),
      (1L, 2L, 102L, 200L, 125L, 25L, 1)), s"incarnation 1 got: $buf1")
    // while down: a 185 that must NOT flag (2·60 = 120 ≯ 5·25 + 20 =
    // 145 — the decision needs the RELOADED dev = 25; a fresh-state
    // resume would also emit rn = 1) and a 400 that must flag against
    // the post-185 state
    Seq((1L, 3L, 103L, 185L), (1L, 4L, 104L, 400L))
      .toDF("user_id", "us", "event_id", "v_e6")
      .coalesce(1).write.mode("append").parquet(inDir.getAbsolutePath)
    val buf2 = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long, Int)]
    val q2 = buildQuery(buf2); q2.processAllAvailable(); q2.stop()
    assert(buf2.sorted.toSeq == Seq(
      (1L, 3L, 103L, 185L, 140L, 33L, 0),
      (1L, 4L, 104L, 400L, 205L, 89L, 1)), s"incarnation 2 got: $buf2")
  }

  test("checkpoint recovery: stream-stream JOIN state reloads across " +
      "an incarnation rebuild — a click buffered before the crash " +
      "matches a purchase that arrives after it") {
    val tmp = TempDirs.create("graft-ckpt-sjoin").toFile
    val lDir = new java.io.File(tmp, "l"); lDir.mkdirs()
    val rDir = new java.io.File(tmp, "r"); rDir.mkdirs()
    val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
    val baseMs = 86400000L
    def ts(min: Long) = new java.sql.Timestamp(baseMs + min * 60000L)
    import spark.implicits._
    def buildQuery(buf: scala.collection.mutable.ArrayBuffer[
        (Long, Long, Long)]) = {
      val lSchema = spark.read.parquet(lDir.getAbsolutePath).schema
      val rSchema = spark.read.parquet(rDir.getAbsolutePath).schema
      IncrementalStream.intervalJoin(
        IncrementalStream.readAppendStream(spark, lDir.getAbsolutePath, lSchema),
        "click_ts",
        IncrementalStream.readAppendStream(spark, rDir.getAbsolutePath, rSchema),
        "buy_ts",
        col("user_id") === col("buy_user"), "60 minutes", "1 day")
        .select("user_id", "click_id", "buy_id")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          buf.synchronized { buf ++= rows }
          ()
        }
        .outputMode("append")
        .option("checkpointLocation", ckpt).start()
    }
    // incarnation 1: a click with NO matching purchase yet — it lives
    // only in the join state store when the query stops
    Seq((1L, 10L, ts(0)))
      .toDF("user_id", "click_id", "click_ts")
      .write.mode("overwrite").parquet(lDir.getAbsolutePath)
    Seq((9L, 20L, ts(5)))
      .toDF("buy_user", "buy_id", "buy_ts")
      .write.mode("overwrite").parquet(rDir.getAbsolutePath)
    val buf1 = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Long)]
    val q1 = buildQuery(buf1); q1.processAllAvailable(); q1.stop()
    assert(buf1.isEmpty, s"nothing should match in incarnation 1: $buf1")
    // while down: the matching purchase arrives (in-window, t30)
    Seq((1L, 21L, ts(30)))
      .toDF("buy_user", "buy_id", "buy_ts")
      .write.mode("append").parquet(rDir.getAbsolutePath)
    // incarnation 2: the match can only emit if the click RELOADED
    // from the checkpointed join state — a fresh-state resume would
    // never see click 10 again (its file offset is already committed)
    val buf2 = scala.collection.mutable
      .ArrayBuffer.empty[(Long, Long, Long)]
    val q2 = buildQuery(buf2); q2.processAllAvailable(); q2.stop()
    assert(buf2.toSet == Set((1L, 10L, 21L)), s"got: $buf2")
  }

  test("checkpoint recovery: the streamed MANIFEST survives an " +
      "incarnation rebuild (persisted cell store, idempotent on batch " +
      "replay; merged manifest equals the batch recompute)") {
    import graft.ops.Manifest
    val tmp = TempDirs.create("graft-ckpt-mf").toFile
    val inDir = new java.io.File(tmp, "in"); inDir.mkdirs()
    val ckpt = new java.io.File(tmp, "ckpt").getAbsolutePath
    val store = new java.io.File(tmp, "store").getAbsolutePath
    def d(day: Int) = java.sql.Date.valueOf(f"2024-01-$day%02d")
    import spark.implicits._
    def buildQuery() = {
      val schema = spark.read.parquet(inDir.getAbsolutePath).schema
      IncrementalStream.readAppendStream(
          spark, inDir.getAbsolutePath, schema)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                         id: Long) =>
          Manifest.writeBatchCells(
            Manifest.dayCells(batch, col("day"), col("event_id"),
              salt = 424242L), store, id)
        }
        .option("checkpointLocation", ckpt).start()
    }
    // incarnation 1: day 1 complete, day 2 partial — its cells live
    // only in the PERSISTED store when the query stops ("crashes")
    Seq((d(1), 1L), (d(1), 2L), (d(1), 3L), (d(2), 10L), (d(2), 11L))
      .toDF("day", "event_id").coalesce(1).write.mode("overwrite")
      .parquet(inDir.getAbsolutePath)
    val q1 = buildQuery(); q1.processAllAvailable(); q1.stop()
    // while down: the rest of day 2 plus day 3 arrive
    Seq((d(2), 12L), (d(2), 13L), (d(3), 20L))
      .toDF("day", "event_id").coalesce(1).write.mode("append")
      .parquet(inDir.getAbsolutePath)
    // incarnation 2: a brand-new query on the SAME checkpoint+store.
    // The merged day-2 cell (n=4, ids 10..13, cross-batch digest sum)
    // is only possible if incarnation 1's contribution persisted —
    // the r8 driver-Map design lost it here by construction
    val q2 = buildQuery(); q2.processAllAvailable(); q2.stop()
    val resumedRows = q2.recentProgress.map(_.numInputRows).sum
    assert(resumedRows == 3,
      s"incarnation 2 must resume from the checkpointed offset; " +
        s"processed $resumedRows")
    def manifestSet(df: org.apache.spark.sql.DataFrame) =
      df.select("day", "n_rows", "min_id", "max_id", "digest")
        .collect().map(r => (r.getDate(0).toString, r.getLong(1),
          r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val got = manifestSet(Manifest.current(spark, store))
    // control: the batch recompute over the final input (the shared-
    // oracle equivalence partition_manifest certifies at driver SF)
    val wantDf = Manifest
      .dayCells(spark.read.parquet(inDir.getAbsolutePath),
        col("day"), col("event_id"), salt = 424242L)
      .select(col("day"), col("n").as("n_rows"),
        col("mn").as("min_id"), col("mx").as("max_id"),
        Manifest.wrapSigned64(col("dg")).as("digest"))
    assert(got == manifestSet(wantDf), s"got: $got")
    assert(got.map(_._1) == Set("2024-01-01", "2024-01-02",
      "2024-01-03") && got.exists(c => c._1 == "2024-01-02" &&
        c._2 == 4L && c._3 == 10L && c._4 == 13L),
      s"day-2 cell must merge across incarnations: $got")
    // replaying a batch id must OVERWRITE, not double-count (the
    // recovery path re-delivers the in-flight batch after a crash)
    val lastBatch = spark.read.parquet(inDir.getAbsolutePath)
      .filter(col("event_id") >= 12L)
    Manifest.writeBatchCells(
      Manifest.dayCells(lastBatch, col("day"), col("event_id"),
        salt = 424242L), store, batchId = 1L)
    assert(manifestSet(Manifest.current(spark, store)) == got,
      "batch-id replay must be idempotent")
  }

  private val ckptManagerKey =
    "spark.sql.streaming.checkpointFileManagerClass"

  test("a stream query leaves the session's checkpoint-manager conf " +
      "as it found it") {
    // start from Spark's default (unset), whatever earlier suites did
    spark.conf.unset(ckptManagerKey)
    assert(queries.AdvancedQueries.streamDedup(spark, sf).count() > 0)
    assert(spark.conf.getOption(ckptManagerKey).isEmpty,
      "the FileSystem-based manager must not outlive the stream run")
  }

  test("runner: a throwing batch function rethrows after stopping the " +
      "query, deleting the checkpoint and restoring the conf") {
    val label = "runner_throw_probe"
    val stage = IncrementalStream.stageSlices(
      (0 until 3).map(i => spark.range(i * 10L, i * 10L + 10L).toDF("id")))
    val tmpRoot = TempDirs.root.toFile
    def ckptDirs: Set[String] = tmpRoot.list().toSet
      .filter(_.startsWith(s"graft_ckpt_${label}_"))
    val leftBefore = ckptDirs // an earlier test in this JVM may have left some
    val callerValue = "org.apache.spark.sql.execution.streaming." +
      "checkpointing.FileContextBasedCheckpointFileManager"
    val confInRun = new java.util.concurrent.atomic.AtomicReference[Option[String]]
    val dirsInRun = new java.util.concurrent.atomic.AtomicReference[Set[String]]
    spark.conf.set(ckptManagerKey, callerValue)
    try {
      val err = intercept[Exception] {
        IncrementalStream.runForeachBatch(label,
            IncrementalStream.readAppendStream(spark, stage.toString,
              spark.read.parquet(stage.toString).schema,
              maxFilesPerTrigger = Some(1)),
            minBatches = 2) { (batch, id) =>
          confInRun.set(spark.conf.getOption(ckptManagerKey))
          dirsInRun.set(ckptDirs)
          if (id == 1L) throw new IllegalStateException("planted batch failure")
          batch.count()
        }
      }
      assert(Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null)
        .exists(e => Option(e.getMessage).exists(_.contains("planted"))),
        s"the batch function's failure must surface: $err")
      assert((dirsInRun.get -- leftBefore).size == 1,
        s"the run's checkpoint must exist while it runs: ${dirsInRun.get}")
      assert(confInRun.get.exists(
        _.endsWith("FileSystemBasedCheckpointFileManager")))
      assert(spark.streams.active.isEmpty)
      assert(ckptDirs == leftBefore, s"checkpoint left behind: $ckptDirs")
      assert(spark.conf.getOption(ckptManagerKey).contains(callerValue))
    } finally {
      spark.conf.unset(ckptManagerKey)
      org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile)
    }
  }

  test("runner: a one-file memory-sink run fails the batch check and " +
      "drops its view") {
    val label = "runner_one_batch_probe"
    val stage = IncrementalStream.stageSlices(
      Seq(spark.range(0L, 10L).toDF("id")))
    try {
      val err = intercept[IllegalArgumentException] {
        IncrementalStream.runToMemory(label,
          IncrementalStream.readAppendStream(spark, stage.toString,
            spark.read.parquet(stage.toString).schema,
            maxFilesPerTrigger = Some(1)),
          "append", minBatches = 2)(identity)
      }
      assert(err.getMessage.contains(
        "expected >=2 non-empty micro-batches"), err.getMessage)
      assert(!spark.catalog.listTables().collect()
        .exists(_.name.startsWith(label)), "memory view left behind")
      assert(spark.streams.active.isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile)
  }
}
