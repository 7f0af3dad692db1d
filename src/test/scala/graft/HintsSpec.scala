package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalacheck.{Gen, Test}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Hints}

class HintsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** Runs `body` with session confs set, then restores each one. */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Executed plan of a 1000-row range joined on `g` to `side`, with
    * auto-broadcast off so only a hint can make it a broadcast.
    */
  private def hintedPlan(side: DataFrame): String =
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      spark.range(0, 1000).toDF("g").join(side, "g")
        .queryExecution.executedPlan.toString
    }

  test("maybeBroadcast gates the hint on the size estimate") {
    val small = spark.range(0, 10).toDF("id")
    // under the bound: hint applied → broadcast join plan
    val hinted = spark.range(0, 100).toDF("k")
      .join(Hints.maybeBroadcast(small.withColumnRenamed("id", "k")), "k")
    assert(hinted.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    // over the bound: no hint → planner's own choice
    val big = spark.range(0, 1L << 30).toDF("id")
    assert(Hints.estimatedBytes(big) > Hints.DefaultBroadcastBytes)
    assert(Hints.maybeBroadcast(big) eq big) // returned unwrapped
    assert(Hints.maybeBroadcast(small, rowBound = 1L << 40) eq small)
  }

  test("chunkedBroadcastThetaJoin: chunked plan, identical result") {
    val corpus = spark.range(0, 200).toDF("cid")
    val queries = spark.range(0, 50).toDF("qid")
    val cond = col("qid") =!= col("cid")
    val plain = corpus.join(broadcast(queries), cond)
      .groupBy(col("qid")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

    // force ~4 bounded chunks
    val bound = (Hints.estimatedBytes(queries) / 4 + 1).toLong
    val chunked = Hints.chunkedBroadcastThetaJoin(
        corpus, queries, chunkKey = col("qid"), cond = cond,
        maxBytes = bound)
      .groupBy(col("qid")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(chunked == plain,
      "hash-chunked broadcast joins must partition, not change, the cross product")

    // the chunked plan is a union of >1 bounded joins
    val plan = Hints.chunkedBroadcastThetaJoin(corpus, queries,
      col("qid"), cond, maxBytes = bound).queryExecution.logical.toString
    assert(plan.contains("Union"), plan)
  }

  test("a pinned frame with a join-product origin reports its stored " +
      "bytes, and its broadcast hint is kept") {
    val n = 20000L
    val origin = spark.range(0, n).toDF("k")
      .join(spark.range(0, n).toDF("k"), "k")
      .groupBy((col("k") % 97).as("g")).agg(count(lit(1)).as("c"))
    // Catalyst's estimate of the origin is the product of its inputs:
    // far past the demotion bound
    assert(Hints.estimatedBytes(origin) > (1L << 30))
    val pinned = Dedup.materialize(origin)
    val bytes = Hints.estimatedBytes(pinned)
    assert(bytes > 0 && bytes < Hints.DefaultBroadcastBytes, bytes)
    assert(Hints.maybeBroadcast(pinned) ne pinned)
    val plan = hintedPlan(broadcast(pinned))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("a pinned frame or a row-bounded side past demoteBytes is demoted") {
    val pinned = Dedup.materialize(spark.range(0, 5000).toDF("g"))
    val bytes = Hints.estimatedBytes(pinned).toLong
    withConfs("graft.broadcast.demoteBytes" -> bytes.toString) {
      assert(hintedPlan(broadcast(pinned)).contains("BroadcastHashJoin"))
    }
    withConfs("graft.broadcast.demoteBytes" -> (bytes - 1).toString) {
      val plan = hintedPlan(broadcast(pinned))
      assert(!plan.contains("BroadcastHashJoin"), plan)
      assert(plan.contains("SortMergeJoin"), plan)
    }
    // a side derived through a join reports rowBound × row width
    val derived = pinned.join(pinned.select(col("g").as("h")), col("g") === col("h"))
      .select(col("g"))
    val bounded = Hints.maybeBroadcast(derived, 5000L)
    assert(Hints.estimatedBytes(bounded) == 5000L * Hints.rowBytes(derived))
    withConfs("graft.broadcast.demoteBytes" -> "1024") {
      val plan = hintedPlan(bounded)
      assert(!plan.contains("BroadcastHashJoin"), plan)
    }
    assert(hintedPlan(bounded).contains("BroadcastHashJoin"))
  }

  test("hostile inputs (NULL keys, empty frames, duplicate rows, one " +
      "giant key): a join through either gate equals the unhinted join, " +
      "and the hinted leaf's size is finite") {
    val schema = StructType(Seq(StructField("g", LongType), StructField("v", LongType)))
    def frame(rows: Seq[(Option[Long], Long)]): DataFrame =
      rows.map { case (g, v) => (g.map(Long.box).orNull, v) }.toDF("g", "v")
        .select(col("g").cast("long"), col("v"))
    val shapes: Seq[(String, Gen[DataFrame])] = Seq(
      "null keys" -> Gen.listOf(Gen.zip(Gen.option(Gen.choose(0L, 40L)), Gen.choose(0L, 9L)))
        .map(frame),
      "empty, 0 rows" -> Gen.choose(1, 8).map(p =>
        spark.range(0, 100, 1, p).toDF("g").filter(lit(false))
          .select(col("g"), col("g").as("v"))),
      "empty, 0 partitions" -> Gen.const(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)),
      "duplicate rows" -> Gen.zip(Gen.choose(0L, 40L), Gen.choose(1, 60))
        .map { case (g, n) => frame(Seq.fill(n)((Some(g), 1L))) },
      "one giant key" -> Gen.zip(Gen.choose(0L, 40L), Gen.choose(200, 2000))
        .map { case (g, n) => frame((0 until n).map(i =>
          (Some(if (i % 50 == 0) i.toLong % 41 else g), i.toLong))) })
    val probe = spark.range(-5, 45).toDF("g")
      .union(Seq(Option.empty[Long]).toDF("g"))
    def joined(side: DataFrame): Seq[Row] =
      probe.join(side, "g").orderBy("g", "v").collect().toSeq
    val unknown = BigInt(Long.MaxValue)
    for ((shape, gen) <- shapes) {
      val prop = forAll(gen) { side =>
        val want = joined(side)
        val pinned = Dedup.materialize(side)
        val bounded = Hints.maybeBroadcast(side, side.count())
        val sizes = Seq(Hints.estimatedBytes(pinned), Hints.estimatedBytes(bounded))
        sizes.forall(b => b >= 0 && b < unknown) &&
          joined(Hints.maybeBroadcast(pinned)) == want &&
          joined(bounded) == want
      }
      val result = Test.check(
        Test.Parameters.default.withMinSuccessfulTests(3).withInitialSeed(7L), prop)
      assert(result.passed, s"$shape: ${result.status}")
    }
  }
}
