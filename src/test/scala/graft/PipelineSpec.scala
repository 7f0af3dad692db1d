package graft

import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{OutreachPipeline, Sink}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def fixture: String =
    getClass.getResource("/jsonapi/prospects").getPath

  private def cfg(out: String) = OutreachPipeline.SyncConfig(
    resource = "prospects",
    pagesDir = fixture,
    outDir = out,
    replicationType = "full",
    startDate = LocalDate.of(2019, 1, 1),
    today = LocalDate.of(2019, 7, 1))

  test("end-to-end sync: source → window → conform → dedup → sink") {
    val tmp = TempDirs.create("graft-sync").toString
    val out = OutreachPipeline.sync(spark, cfg(tmp))
    assert(out.endsWith("outreach_prospects"))
    val loaded = spark.read.parquet(out)
    // prefix strip applied (P6), ids all present, ds partition column
    assert(loaded.columns.contains("firstName"))
    assert(loaded.columns.contains("ds"))
    assert(!loaded.columns.exists(_.startsWith("attributes_")))
    assert(loaded.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // declared-but-absent columns ride as typed NULLs
    assert(loaded.schema.fieldNames.contains("addressCity"))
  }

  test("window re-run is idempotent (dynamic partition overwrite)") {
    val tmp = TempDirs.create("graft-sync2").toString
    OutreachPipeline.sync(spark, cfg(tmp))
    val first = spark.read.parquet(s"$tmp/outreach_prospects").count()
    OutreachPipeline.sync(spark, cfg(tmp)) // re-pull same window
    val second = spark.read.parquet(s"$tmp/outreach_prospects").count()
    assert(first == second, "re-pulled window must not duplicate rows")
  }

  test("previous_day window filters to the day's records only") {
    val tmp = TempDirs.create("graft-sync3").toString
    // record 2 was updated 2019-06-03 → previous_day of 2019-06-04
    val c = cfg(tmp).copy(replicationType = "previous_day",
      today = LocalDate.of(2019, 6, 4))
    val df = OutreachPipeline.conformed(spark, c)
    assert(df.select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("partitioned sink layout enables partition pruning on read") {
    val tmp = TempDirs.create("graft-prune").toString
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
    ops.Sink.partitionedWindowLoad(events, "ts", s"$tmp/events")
    val back = spark.read.parquet(s"$tmp/events")
      .filter(col("ds") === "2024-01-05")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    // only the one day's directory is read
    val expected = events
      .filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-05").count()
    assert(back.count() == expected && expected > 0)
  }

  test("append vs overwrite load semantics") {
    val tmp = TempDirs.create("graft-sink").toString
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Sink.appendLoad(df, s"$tmp/t")
    Sink.appendLoad(df, s"$tmp/t")
    assert(spark.read.parquet(s"$tmp/t").count() == 4) // append keeps dups
    Sink.overwriteLoad(df, s"$tmp/t")
    assert(spark.read.parquet(s"$tmp/t").count() == 2)
  }

  test("compact collapses a small-files directory without changing data") {
    val tmp = TempDirs.create("graft-compact").toFile
    val out = s"$tmp/t"
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("user_id"), col("value"))
    events.repartition(24).write.parquet(out) // 24 tiny files
    def files = new java.io.File(out).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val before = files
    assert(before >= 24, s"precondition: $before")
    val checksum = spark.read.parquet(out)
      .agg(sum(hash(col("event_id"), col("user_id"))), count(lit(1)))
      .collect()(0)
    Sink.compact(spark, out) // tiny data -> 1 target file
    assert(files == 1, s"after: $files")
    val after = spark.read.parquet(out)
      .agg(sum(hash(col("event_id"), col("user_id"))), count(lit(1)))
      .collect()(0)
    assert(after == checksum)
  }

  test("compact preserves hive-partitioned layout") {
    val tmp = TempDirs.create("graft-compact-p").toFile
    val out = s"$tmp/t"
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("ts"), col("value"))
      .repartition(8)
    Sink.partitionedWindowLoad(events, "ts", out)
    def dsDirs = new java.io.File(out).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("ds="))
    val before = dsDirs
    assert(before > 1, s"precondition: $before partitions")
    val checksum = spark.read.parquet(out)
      .agg(sum(hash(col("event_id"), col("ds"))), count(lit(1))).collect()(0)
    Sink.compact(spark, out)
    assert(dsDirs == before, "partition directories must survive compaction")
    val after = spark.read.parquet(out)
      .agg(sum(hash(col("event_id"), col("ds"))), count(lit(1))).collect()(0)
    assert(after == checksum)
    // dynamic-partition idempotency still works on the compacted layout
    val oneDay = spark.read.parquet(out)
      .select(col("ds").cast("string").as("ds")).distinct()
      .orderBy(col("ds")).limit(1).collect()(0).getString(0)
    val redo = events.withColumn("ds", date_format(col("ts"), "yyyy-MM-dd"))
      .filter(col("ds") === oneDay).drop("ds")
    Sink.partitionedWindowLoad(redo, "ts", out)
    val again = spark.read.parquet(out)
      .agg(sum(hash(col("event_id"), col("ds"))), count(lit(1))).collect()(0)
    assert(again == checksum, "window re-pull after compaction must not duplicate")
  }

  test("bucketed tables join with zero Exchange (shuffle paid once at write)") {
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("user_id"), col("value"))
    val users = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    Sink.bucketedSave(events, "b_events", "user_id", buckets = 4)
    Sink.bucketedSave(users, "b_users", "user_id", buckets = 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the join must co-locate — bucketing makes
      // that free; an unbucketed plan would show two Exchanges here
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_events")
        .join(spark.table("b_users"), "user_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan)
      assert(joined.count() == events.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_events")
      spark.sql("DROP TABLE IF EXISTS b_users")
    }
  }

  test("one-partition HTTP sync and multi-file sync commit equal tables") {
    // id 10's later version sits on another page; ids 11 and 12 tie
    // on updatedAt and are told apart by `type` (the greater wins)
    val pages = Seq(
      Seq((10L, "prospect", "2019-06-03T08:00:00Z", "old"),
        (11L, "account", "2019-06-04T09:00:00Z", "tie-lo"),
        (12L, "prospect", "2019-06-05T10:00:00Z", "keep")),
      Seq((11L, "prospect", "2019-06-04T09:00:00Z", "tie-hi"),
        (13L, "prospect", "2019-06-04T11:00:00Z", "plain")),
      Seq((10L, "prospect", "2019-06-05T07:00:00Z", "new"),
        (12L, "account", "2019-06-05T10:00:00Z", "drop")))
    val dir = TestPages.write(pages)
    val base = cfg("").copy(today = LocalDate.of(2020, 1, 1))

    val fromFiles = TempDirs.create("graft-eq-files").toString
    val filesPlan = SparkRun(spark) {
      OutreachPipeline.sync(spark, base.copy(pagesDir = dir, outDir = fromFiles))
    }
    graft.sources.JsonApiToken.clear()
    val server = new graft.sources.FixtureApiServer("prospects", dir)
    val fromChain = TempDirs.create("graft-eq-chain").toString
    val chainPlan = try SparkRun(spark) {
      val conformed = OutreachPipeline.conformedFrom(
        spark.read.format("graft.sources.JsonApiSource")
          .option("resource", "prospects").options(server.sourceOptions).load(),
        base.copy(outDir = fromChain))
      Sink.partitionedWindowLoad(conformed, "updatedAt",
        s"$fromChain/outreach_prospects")
    } finally server.stop()
    // the two sides ran different plans: shuffle vs one partition
    assert(filesPlan.jobs >= 2 && chainPlan.jobs == 1,
      s"jobs: files ${filesPlan.jobs}, chain ${chainPlan.jobs}")

    def perDs(root: String): Map[String, (Long, java.math.BigDecimal)] = {
      val t = spark.read.parquet(s"$root/outreach_prospects")
      t.select(col("ds").cast("string")).distinct().collect()
        .map(_.getString(0)).map(d =>
          d -> Sink.tableChecksum(t.filter(col("ds").cast("string") === d)))
        .toMap
    }
    val files = perDs(fromFiles)
    assert(files == perDs(fromChain))
    assert(files.keySet == Set("2019-06-04", "2019-06-05"), files)
    val kept = spark.read.parquet(s"$fromChain/outreach_prospects")
      .select("id", "firstName").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept == Map(10L -> "new", 11L -> "tie-hi", 12L -> "keep",
      13L -> "plain"), kept)
  }
}
