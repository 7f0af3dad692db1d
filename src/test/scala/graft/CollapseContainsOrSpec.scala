package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The declarative-blocklist rewrite ([[graft.plans.CollapseContainsOr]]):
  * a contains() OR-chain over one column becomes a single Aho–Corasick
  * pass, result-identically. The test session carries the rule (it is
  * built by [[graft.GraftSession]]); baselines switch it off through
  * its `graft.ac.rewriteMinTerms` conf.
  */
class CollapseContainsOrSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  /** Runs `body` with the rewrite off: no chain reaches the threshold. */
  private def withoutRule[A](body: => A): A = {
    spark.conf.set("graft.ac.rewriteMinTerms", Int.MaxValue.toString)
    try body
    finally spark.conf.unset("graft.ac.rewriteMinTerms")
  }

  private val pats = Seq("hash join", "merge sort", "table scan", "sort")

  private def docs: DataFrame =
    Tables(spark, "/root/testdata/sf0.001", "documents")

  private def chain(df: DataFrame, ps: Seq[String]): DataFrame =
    df.filter(ps.map(p => col("text").contains(p)).reduce(_ || _))

  test("eligible OR-chain collapses to one ac_match_ids pass") {
    def run(): (String, Seq[Long]) = {
      val q = chain(docs, pats).select(col("doc_id"))
      (q.queryExecution.optimizedPlan.toString,
        q.collect().map(_.getLong(0)).sorted.toSeq)
    }
    val (plan, viaRule) = run()
    assert(plan.contains("ac_match_ids"), plan)
    assert(!plan.contains("Contains"), plan)
    val (naivePlan, naive) = withoutRule(run())
    assert(naivePlan.contains("Contains"), naivePlan)
    assert(!naivePlan.contains("ac_match_ids"), naivePlan)
    assert(viaRule == naive && naive.nonEmpty)
  }

  test("below the term threshold the chain is left alone") {
    val plan = chain(docs, pats.take(3))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("ac_match_ids"), plan)
    assert(plan.contains("Contains"), plan)
  }

  test("mixed-column and non-literal chains are not rewritten") {
    val mixed = docs.filter(
      col("text").contains("hash") || col("lang").contains("e") ||
        col("text").contains("join") || col("text").contains("sort"))
      .queryExecution.optimizedPlan.toString
    assert(!mixed.contains("ac_match_ids"), mixed)
    val nonLit = docs.filter(
      col("text").contains("hash") || col("text").contains("join") ||
        col("text").contains("sort") || col("text").contains(col("lang")))
      .queryExecution.optimizedPlan.toString
    assert(!nonLit.contains("ac_match_ids"), nonLit)
  }

  test("null column rows are dropped identically") {
    // an RDD source, so the optimizer cannot fold the filter into a
    // LocalRelation before the rule sees it
    val df = spark.sparkContext
      .parallelize(Seq((1L, "a hash join b"), (2L, null), (3L, "zzz")))
      .toDF("id", "text")
    def run(): (String, Seq[Long]) = {
      val q = chain(df, pats).select("id")
      (q.queryExecution.optimizedPlan.toString,
        q.collect().map(_.getLong(0)).sorted.toSeq)
    }
    val (plan, viaRule) = run()
    assert(plan.contains("ac_match_ids"), plan)
    val (naivePlan, naive) = withoutRule(run())
    assert(naivePlan.contains("Contains"), naivePlan)
    assert(!naivePlan.contains("ac_match_ids"), naivePlan)
    assert(viaRule == Seq(1L) && naive == Seq(1L))
  }

  test("eligible sub-chain inside a wider predicate still collapses") {
    val plan = docs.filter(
      col("lang") === "en" &&
        pats.map(p => col("text").contains(p)).reduce(_ || _))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("ac_match_ids"), plan)
    assert(!plan.contains("Contains"), plan)
  }
}
