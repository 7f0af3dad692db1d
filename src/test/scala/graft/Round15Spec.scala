package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 optimization pins — internals that changed for speed must
  * keep their observable contracts bit-identical:
  *
  *  - [[graft.ops.Graph.hitsE6]]'s max-norm scalar moved from an
  *    in-plan broadcast cross join to an Observation riding the
  *    half-step checkpoint job; the scores must equal an unrolled
  *    replay of the textbook-shaped recurrence computed with the OLD
  *    in-plan formula.
  *  - [[graft.ops.Sink.observeChecksum]] rides a write action; its
  *    (count, digest) must equal a separate
  *    [[graft.ops.Sink.tableChecksum]] pass over the same rows,
  *    including NULL / empty-string hostile values.
  */
class Round15Spec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("hitsE6: observation-folded max-norm equals the unrolled " +
      "in-plan replay (2 iterations, bipartite-ish graph)") {
    import spark.implicits._
    // small directed graph with shared endpoints, a self-contained hub
    // and a degree-1 tail — enough structure that a normalization bug
    // (wrong max, wrong truncation, swapped half-step order) shifts
    // some score
    val edges = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 11L),
      (3L, 12L), (3L, 13L),
      (4L, 13L)).toDF("src", "dst")
    val got = graft.ops.Graph.hitsE6(edges, iters = 2)
      .orderBy("side", "id").collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2))).toSeq

    // unrolled replay with the r14 in-plan normalization (broadcast
    // 1-row cross join + DIV) — the formula the optimization replaced
    def norm(raw: DataFrame): DataFrame =
      raw.crossJoin(broadcast(raw.agg(max(col("raw")).as("mx"))))
        .select(col("id"), expr("(raw * 1000000) DIV mx").as("s"))
    val e = edges.select(col("src"), col("dst")).distinct()
    var h = e.select(col("src").as("id")).distinct()
      .withColumn("s", lit(1000000L))
    var a: DataFrame = null
    for (_ <- 1 to 2) {
      a = norm(e.join(h.select(col("id").as("mid"), col("s")),
          col("src") === col("mid"))
        .groupBy(col("dst")).agg(sum(col("s")).as("raw"))
        .withColumnRenamed("dst", "id"))
      h = norm(e.join(a.select(col("id").as("mid"), col("s")),
          col("dst") === col("mid"))
        .groupBy(col("src")).agg(sum(col("s")).as("raw"))
        .withColumnRenamed("src", "id"))
    }
    val want = h.select(col("id"), lit("hub").as("side"),
        col("s").as("score_e6"))
      .unionByName(a.select(col("id"), lit("auth").as("side"),
        col("s").as("score_e6")))
      .orderBy("side", "id").collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2))).toSeq
    assert(got == want)
  }

  test("materializeObserved: observed metrics equal separate-pass " +
      "aggregates and the checkpoint keeps the rows (nulls included)") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(10L)), (2L, None), (3L, Some(-4L)), (4L, Some(0L)),
      (5L, None)).toDF("id", "v")
    val (cp, m) = graft.ops.Dedup.materializeObserved(df,
      count(when(col("v").isNotNull, 1)).as("__nn"),
      sum(col("v")).as("__s"),
      max(col("id")).as("__mx"))
    assert(m("__nn") == df.filter(col("v").isNotNull).count())
    assert(m("__s") == df.agg(sum(col("v"))).head().getLong(0))
    assert(m("__mx") == df.agg(max(col("id"))).head().getLong(0))
    assert(cp.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }

  test("materializeObserved: an observer below an exchange, or a " +
      "metric missing from the observation, throws") {
    val df = spark.range(0, 100, 1, 4).toDF("id")
      .withColumn("k", col("id") % 7)
    // the observer sits below the aggregate's shuffle, where AQE drops
    // its metrics: refused before the checkpoint runs
    val misplaced = df.observe(new org.apache.spark.sql.Observation("misplaced"),
        count(lit(1)).as("__n"))
      .groupBy(col("k")).agg(sum(col("id")).as("s"))
    val e = intercept[IllegalStateException](graft.ops.Dedup.materialize(misplaced))
    assert(e.getMessage.contains("misplaced"), e.getMessage)
    // two metrics under one name: the observation holds one of them
    val e2 = intercept[IllegalStateException](graft.ops.Dedup.materializeObserved(
      df, count(lit(1)).as("__n"), sum(col("id")).as("__n")))
    assert(e2.getMessage.contains("__n"), e2.getMessage)
    // the same observer at the top of the plan delivers
    val (_, m) = graft.ops.Dedup.materializeObserved(
      df.groupBy(col("k")).agg(sum(col("id")).as("s")), count(lit(1)).as("__n"))
    assert(m("__n") == 7L)
  }

  test("bloom_prune scalar fold: count(*)/count(key) over a left join " +
      "against DISTINCT keys equal the standalone count + semi-join " +
      "count (null fact keys, duplicate fact rows, duplicate keys)") {
    import spark.implicits._
    val fact = Seq(Some(1L), Some(2L), Some(2L), Some(3L), None, None,
      Some(7L)).toDF("fk")
    val keysDup = Seq(2L, 2L, 3L, 4L).toDF("k") // dup: distinct() is load-bearing
    val tot = fact.count()
    val sem = fact.join(keysDup, fact("fk") === keysDup("k"), "left_semi")
      .count()
    val keyd = keysDup.distinct()
    val row = fact.join(keyd, fact("fk") === keyd("k"), "left")
      .agg(count(lit(1)).as("__n"), count(col("k")).as("__m")).head()
    assert(row.getLong(0) == tot)
    assert(row.getLong(1) == sem)
  }

  test("observeChecksum riding a write equals a separate " +
      "tableChecksum pass (hostile values included)") {
    import spark.implicits._
    val hostile = Seq(
      (1L, Some("a"), Some("")),
      (2L, None, Some("b")),
      (3L, Some("b"), None),
      (4L, None, None)).toDF("k", "x", "y")
    val (nRef, ckRef) = graft.ops.Sink.tableChecksum(hostile)
    val dir = TempDirs.create("r15_obs_ck").toString
    val (nObs, ckObs) =
      graft.ops.Sink.overwriteLoadChecksummed(hostile, s"$dir/t")
    assert(nObs == nRef)
    assert(ckObs.compareTo(ckRef) == 0)
    // and the written files carry the same content
    val (nBack, ckBack) =
      graft.ops.Sink.tableChecksum(spark.read.parquet(s"$dir/t"))
    assert(nBack == nRef && ckBack.compareTo(ckRef) == 0)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
