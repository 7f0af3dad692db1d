package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** SparkSessionExtensions registration: exposes the native graft
  * expressions to SQL (`spark.sql("SELECT cosine_sim(a, b) …")`), so
  * the engine's function surface is reachable from pure-SQL callers,
  * not only the Scala DSL.
  *
  * Usage: every [[GraftSession.local]] session carries them. Sessions
  * built elsewhere add them with `spark.sql.extensions=graft.GraftExtensions`,
  * or [[GraftExtensions.register]] on a running session (SQL functions
  * only).
  */
object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** The pattern list must fold to a constant at registration time —
    * the Aho–Corasick automaton is built once on the driver from it.
    */
  private def stringArrayArg(e: Expression, what: String): Seq[String] = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$what must be a literal array of strings, got $e")
    val ad = e.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    (0 until ad.numElements()).map(i => ad.getUTF8String(i).toString)
  }

  /** name → expression builder for every SQL-exposed graft function. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "ac_match_ids" -> ((args: Seq[Expression]) =>
      AcMatchIdsExpr(args(0), stringArrayArg(args(1), "patterns"))),
    "cosine_sim" -> ((args: Seq[Expression]) =>
      CosineSimExpr(dsl.asFloatArray(args(0)), dsl.asFloatArray(args(1)))),
    "dot_product" -> ((args: Seq[Expression]) =>
      DotProductExpr(dsl.asFloatArray(args(0)), dsl.asFloatArray(args(1)))),
    "simhash64" -> ((args: Seq[Expression]) =>
      SimHash64Expr(dsl.asLongArray(args(0)))),
    "token_hashes" -> ((args: Seq[Expression]) => TokenHashesExpr(args(0))),
    "minhash_sig" -> ((args: Seq[Expression]) => MinHashSigExpr(
      dsl.asLongArray(args(0)),
      intArg(args(1), "numHashes"),
      if (args.length > 2) intArg(args(2), "seed").toLong
      else dsl.DefaultSeed)),
    "shingle_set" -> ((args: Seq[Expression]) =>
      ShingleSetExpr(args(0), intArg(args(1), "n"))),
    "char_ngram_set" -> ((args: Seq[Expression]) =>
      CharNgramSetExpr(args(0), intArg(args(1), "n"))),
    "winnow_fps" -> ((args: Seq[Expression]) =>
      WinnowExpr(args(0), intArg(args(1), "k"), intArg(args(2), "w"))),
    "srp_bucket" -> ((args: Seq[Expression]) =>
      SrpBucketExpr(dsl.asFloatArray(args(0)), intArg(args(1), "bits"),
        if (args.length > 2) intArg(args(2), "seed").toLong
        else dsl.DefaultSeed)),
    "srp_probes" -> ((args: Seq[Expression]) =>
      SrpProbesExpr(dsl.asFloatArray(args(0)), intArg(args(1), "bits"),
        intArg(args(2), "seed").toLong, intArg(args(3), "nProbes"))),
    "sorted_intersect_count" -> ((args: Seq[Expression]) =>
      SortedIntersectCountExpr(args(0), args(1))),
    // coercions come from the same dsl helpers the Column API uses, so
    // the two call paths can't drift (SQL literals default to
    // array<double>/array<int>, which the kernels' typed getters would
    // misread)
    "nearest_centroids" -> ((args: Seq[Expression]) =>
      NearestCentroidsExpr(dsl.asFloatArray(args(0)),
        dsl.asFloatMatrix(args(1)), dsl.asLongArray(args(2)),
        intArg(args(3), "n"))),
    "media_header" -> ((args: Seq[Expression]) =>
      MediaHeaderExpr(dsl.asBinary(args(0)))),
    "make_media_header" -> ((args: Seq[Expression]) =>
      MakeMediaHeaderExpr(dsl.asInt(args(0)), dsl.asInt(args(1)),
        dsl.asInt(args(2)))),
    "byte_histogram" -> ((args: Seq[Expression]) =>
      ByteHistogramExpr(dsl.asBinary(args(0)), intArg(args(1), "nBands"))),
    "body_mean" -> ((args: Seq[Expression]) =>
      BodyMeanExpr(dsl.asBinary(args(0)))),
    "audio_header" -> ((args: Seq[Expression]) =>
      AudioHeaderExpr(dsl.asBinary(args(0)))),
    "make_audio_header" -> ((args: Seq[Expression]) =>
      MakeAudioHeaderExpr(dsl.asInt(args(0)), dsl.asInt(args(1)),
        dsl.asInt(args(2)), dsl.asInt(args(3)),
        org.apache.spark.sql.catalyst.expressions.Cast(args(4),
          org.apache.spark.sql.types.LongType))),
    "video_header" -> ((args: Seq[Expression]) =>
      VideoHeaderExpr(dsl.asBinary(args(0)))),
    "make_video_header" -> ((args: Seq[Expression]) =>
      MakeVideoHeaderExpr(dsl.asInt(args(0)), dsl.asInt(args(1)),
        dsl.asInt(args(2)),
        org.apache.spark.sql.catalyst.expressions.Cast(args(3),
          org.apache.spark.sql.types.LongType),
        dsl.asInt(args(4)))),
    "line_stats" -> ((args: Seq[Expression]) => LineStatsExpr(args(0))),
    "ngram_rep_stats" -> ((args: Seq[Expression]) =>
      NgramRepStatsExpr(args(0), intArg(args(1), "n"))),
    "chunk_tokens" -> ((args: Seq[Expression]) =>
      ChunkTokensExpr(args(0), intArg(args(1), "chunk"), intArg(args(2), "step"))),
    "quality_e4" -> ((args: Seq[Expression]) => QualityE4Expr(args(0))),
    "nfc_normalize" -> ((args: Seq[Expression]) => NfcNormalizeExpr(args(0))),
    "zorder_key" -> ((args: Seq[Expression]) => ZOrderExpr(
      org.apache.spark.sql.catalyst.expressions.Cast(args(0),
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.catalyst.expressions.Cast(args(1),
        org.apache.spark.sql.types.LongType))),
    "hilbert_key" -> ((args: Seq[Expression]) => HilbertKeyExpr(
      org.apache.spark.sql.catalyst.expressions.Cast(args(0),
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.catalyst.expressions.Cast(args(1),
        org.apache.spark.sql.types.LongType))))

  /** Register the SQL functions on an already-running session built
    * without the extensions (a [[GraftSession.local]] session needs no
    * call).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    sqlFunctions.foreach { case (name, b) =>
      org.apache.spark.sql.graftshim.GraftColumnShim.registerFunction(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], name, b)
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.sqlFunctions.foreach { case (name, b) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), b))
    }
    // scale safety net: strip broadcast() hints whose estimated size
    // exceeds graft.broadcast.demoteBytes (see the rule's scaladoc)
    e.injectOptimizerRule(graft.plans.DemoteOversizedBroadcasts)
    // declarative blocklists: contains() OR-chains over one column
    // collapse into a single Aho-Corasick pass (see the rule's scaladoc)
    e.injectOptimizerRule(graft.plans.CollapseContainsOr)
    // small one-partition DSv2 scans plan as SinglePartition, so the
    // keyed operator above needs no shuffle (see the rule's scaladoc)
    e.injectQueryPostPlannerStrategyRule(graft.plans.CoalesceSinglePartitionScan)
  }
}
