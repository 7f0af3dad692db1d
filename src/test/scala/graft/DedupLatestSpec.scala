package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Incremental

/** Hostile inputs for [[Incremental.dedupLatest]]: NULL keys, an empty
  * input, exact duplicate rows and timestamp ties. Each case runs on
  * the two layouts the dedup meets: one partition (the shape
  * `CoalesceSinglePartitionScan` gives a small scan — `CoalesceExec(1)`,
  * no shuffle) and four partitions (a hash shuffle on the key). Both
  * must equal a plain-Scala model: per key, NULL included, the row with
  * the greatest (ts, tb), NULL tie-breaks last.
  */
class DedupLatestSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSession.spark

  private type R = (Option[Long], Long, Option[String], String)

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("ts", LongType),
    StructField("tb", StringType), StructField("v", StringType)))

  private def model(rows: Seq[R]): Seq[R] =
    rows.groupBy(_._1).values.map(_.maxBy(r => (r._2, r._3))).toSeq
      .sortBy(_.toString)

  private def check(rows: Seq[R]): Unit = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => Row(r._1.orNull, r._2, r._3.orNull, r._4)), 4), schema)
    Seq("one partition" -> (df.coalesce(1), false),
        "four partitions" -> (df, true)).foreach {
      case (layout, (in, shuffles)) =>
        val out: DataFrame = Incremental.dedupLatest(in, Seq("k"), "ts", Seq("tb"))
        val got = out.collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
          r.getLong(1), Option(r.getString(2)), r.getString(3))).toSeq
        assert(got.sortBy(_.toString) == model(rows), layout)
        val exchanges = collect(out.queryExecution.executedPlan) {
          case e: ShuffleExchangeLike => e
        }
        assert(exchanges.nonEmpty == shuffles,
          s"$layout: ${out.queryExecution.executedPlan}")
    }
  }

  test("dedupLatest: NULL keys form one group, on both layouts") {
    check(Seq(
      (None, 1L, Some("a"), "null-old"),
      (None, 3L, Some("a"), "null-new"),
      (None, 2L, Some("b"), "null-mid"),
      (Some(1L), 1L, Some("a"), "one"),
      (Some(2L), 5L, Some("a"), "two-new"),
      (Some(2L), 4L, Some("a"), "two-old")))
  }

  test("dedupLatest: an empty input gives an empty output, on both layouts") {
    check(Seq.empty)
  }

  test("dedupLatest: exact duplicate rows collapse to one, on both layouts") {
    val dup = (Some(7L), 2L, Some("a"), "same")
    check(Seq(dup, dup, dup, (Some(8L), 1L, Some("a"), "x"),
      (Some(8L), 1L, Some("a"), "x"), (None, 1L, None, "n"), (None, 1L, None, "n")))
  }

  test("dedupLatest: updatedAt ties break on the tie-break column, NULL " +
      "last, on both layouts") {
    check(Seq(
      (Some(1L), 9L, Some("account"), "lo"),
      (Some(1L), 9L, Some("prospect"), "hi"),
      (Some(1L), 8L, Some("zzz"), "older"),
      (Some(2L), 4L, None, "null-tb"),
      (Some(2L), 4L, Some("a"), "a-tb")))
  }

  test("dedupLatest: seeded random inputs over tiny domains match the " +
      "model on both layouts") {
    val rnd = new scala.util.Random(42)
    (1 to 6).foreach { _ =>
      // v is a function of (k, ts, tb), so equal sort keys are exact
      // duplicates and the model's pick is the only right answer
      val rows = Seq.fill(rnd.nextInt(30)) {
        val k = if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(4).toLong)
        val ts = rnd.nextInt(3).toLong
        val tb = if (rnd.nextInt(4) == 0) None else Some("ab"(rnd.nextInt(2)).toString)
        (k, ts, tb, s"$k/$ts/$tb")
      }
      check(rows)
    }
  }
}
