package graft

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.connector.read.{Statistics, SupportsReportStatistics}
import org.apache.spark.sql.execution.{CoalesceExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.ops.{Incremental, OutreachPipeline, Sink}
import graft.plans.CoalesceSinglePartitionScan
import graft.sources.{FixtureApiServer, JsonApiToken}

/** Plan-shape regression gate for the at-scale invariants the engine
  * claims in SCALE.md/PLANS.md. Each assertion pins a property that
  * makes a query viable at 100 TB — predicate pushdown to the parquet
  * scan, broadcast of dimension tables, absence of shuffles on
  * scan-stage operators, TopN short-circuit — so a data-vintage or
  * Spark-upgrade change that silently degrades a plan fails `sbt test`
  * instead of surfacing as a slow driver round. (The r05 testdata
  * regeneration changed the event-time physical type and would have
  * been caught here: an un-pushable cast above the scan drops the
  * PushedFilters line this spec requires.)
  */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSession.spark

  private val sf = "/root/testdata/sf0.001"

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("bucketed_join: the driven query joins bucketed tables with " +
      "no pre-join Exchange (shuffle paid once at write time)") {
    val plan = formatted("bucketed_join")
    assert(plan.contains("SortMergeJoin"), plan.take(3000))
    // the only exchanges allowed are AFTER the join: the nationkey
    // aggregation and the final order — a non-bucketed plan would
    // carry two more (one per join side, on the join key). Count the
    // formatted detail headers "(n) Exchange" so the tree/detail
    // duplication doesn't double-count nodes.
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2,
      s"expected <=2 post-join exchanges, found $exchanges:\n" +
        plan.take(3000))
    assert(plan.contains("Bucketed: true"), plan.take(3000))
    // both scans must be the bucketed catalog tables, not raw parquet
    assert("orders_b_".r.findAllIn(plan).nonEmpty, plan.take(2000))
  }

  test("langid_pr_curve: 9 thresholds, ONE corpus scan — the curve is " +
      "conditional sums over the bounded score domain") {
    val plan = formatted("langid_pr_curve")
    // one scan serves every threshold; the naive form rescans per
    // threshold (9 scans). Count detail headers, not tree rows.
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 documents scan, found $scans")
    // column pruning: only text (scores) + lang (labels) read
    assert(plan.contains("ReadSchema: struct<text:string,lang:string>"),
      plan.take(2000))
    // exactly the two designed shuffles: corpus → score domain
    // (hashpartitioning(score_e6)), domain → 1 row (SinglePartition);
    // everything the second carries is 20 int64 cells per partition
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2,
      s"expected <=2 exchanges (bounded-domain + 1-row), found $exchanges")
    // both aggregate levels map-side combine before their exchange
    assert(plan.contains("partial_count"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("dpp_join: the filtered dim prunes fact partitions at RUNTIME " +
      "(dynamic partition pruning, no spelled partition predicate)") {
    val plan = formatted("dpp_join")
    // the fact scan must carry a dynamicpruning subquery in its
    // PartitionFilters — the broadcast dim's surviving keys become a
    // runtime partition predicate, so the scan reads 3 of 5
    // partition directories without the query spelling the filter
    assert(plan.contains("dynamicpruning"),
      s"no dynamic pruning subquery on the fact scan:\n" +
        plan.take(3000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("AQE splits a skewed shuffle-join partition (the built-in skew " +
      "path next to the manual salting escalation)") {
    import org.apache.spark.sql.functions._
    val s = spark
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      // 150k of 200k rows share key 0: one reducer partition ~50x the
      // rest. AQE must split it at runtime rather than leave one
      // straggler task — the mechanism the engine leans on for
      // moderate skew before the salting escalation engages
      val left = s.range(0, 200000L)
        .select(when(col("id") < 150000L, 0L)
          .otherwise(pmod(col("id"), lit(64L))).as("k"),
          col("id").as("v"))
      val right = s.range(0, 64L)
        .select(col("id").as("k"), (col("id") * 2).as("w"))
      val j = left.join(right, "k").agg(sum(col("v") + col("w")).as("t"))
      val total = j.collect()(0).getLong(0)
      assert(total > 0L)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"AQE did not mark the skewed partition split:\n" +
          plan.take(3000))
    } finally {
      saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }
  }

  test("ann_ivf_indexed: the persisted-index scan is PARTITION-PRUNED " +
      "to the probed lists") {
    val plan = formatted("ann_ivf_indexed")
    // the probed list ids must land in PartitionFilters (storage-layer
    // pruning — only nprobe directory partitions are read), not as a
    // post-scan Filter over all lists
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("centroid_id"),
      s"probed lists not in PartitionFilters:\n${plan.take(2000)}")
    // the probe set rides as a membership predicate — IN below
    // Spark's INSET conversion threshold (10 values), INSET above it
    // (the derived nprobe crosses that at the test SFs)
    assert(scanLine.contains("IN (") || scanLine.contains("INSET"),
      s"no membership predicate on the partition column:\n$scanLine")
    assert(!plan.contains("CartesianProduct"))
  }

  test("ann_filtered_indexed: the labeled-index scan is partition-" +
      "pruned on the query label and its probed list GROUPS, with " +
      "the probed list ids pushed into the row-group sort") {
    val plan = formatted("ann_filtered_indexed")
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    // two-level storage pruning under the r13 compacted layout: only
    // the query label's probed GROUP files are opened (directory
    // pruning), and inside each file the probed list ids skip
    // row groups via the centroid_id sort (pushed data filter) — the
    // layout knob that makes a selective metadata predicate free at
    // read time without the |labels| × |lists| small-files cliff
    assert(scanLine.contains("label"),
      s"label not in PartitionFilters:\n${plan.take(2000)}")
    assert(scanLine.contains("list_grp"),
      s"probed groups not in PartitionFilters:\n$scanLine")
    val pushedLine = plan.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("")
    // the In membership filter specifically — a bare
    // IsNotNull(centroid_id) must NOT satisfy this pin (the probe-id
    // pushdown is the layout's second pruning level)
    assert(pushedLine.contains("In(centroid_id"),
      s"probed lists not pushed into the group files:\n$pushedLine")
    assert(!plan.contains("CartesianProduct"))
  }

  test("ann_ivfpq_indexed: the exact re-rank reads raw vectors " +
      "through the PUSHED shortlist filter — one scan, never a " +
      "corpus-wide vector read") {
    val plan = formatted("ann_ivfpq_indexed")
    // the served frame is the +R stage: its ONLY scan is the raw
    // vector table, entered through the ≤rerank-id shortlist as a
    // pushed In filter (the ADC stage ran against the code index —
    // partition-pruned, pinned by IvfIndexSpec)
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1,
      s"expected exactly the shortlist-filtered vector scan, " +
        s"found $scans:\n${plan.take(2000)}")
    val pushedLine = plan.linesIterator
      .find(_.contains("PushedFilters")).getOrElse("")
    assert(pushedLine.contains("In(vec_id"),
      s"shortlist not pushed into the vector scan:\n$pushedLine")
  }

  test("classifier gradient step: partial+final aggregate — the " +
      "shuffle carries integer cells, never rows") {
    val feat = graft.ops.Classifier.features(
      Tables(spark, sf, "documents"), "doc_id", "text", "lang")
    val plan = graft.ops.Classifier
      .gradientFrame(feat, Array.fill(5)(0.0))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val hashAggs = plan.linesIterator
      .count(l => l.contains("HashAggregate"))
    assert(hashAggs >= 2,
      s"expected partial+final HashAggregate (map-side combine):\n" +
        plan.take(1500))
    // global 1-row aggregate: the only exchange is SinglePartition of
    // the partial sums — no row-level hashpartitioning shuffle
    assert(!plan.contains("Exchange hashpartitioning"),
      s"gradient step must not shuffle rows:\n${plan.take(1500)}")
  }

  test("incremental_window: range predicate reaches the parquet scan") {
    val plan = formatted("incremental_window")
    assert(plan.contains("PushedFilters:"), plan.take(2000))
    // the ts range itself must be in the pushed set, not just IsNotNull
    assert(plan.contains("GreaterThanOrEqual(ts,") &&
      plan.contains("LessThanOrEqual(ts,"),
      "ts range filter not pushed to scan:\n" + plan.take(2000))
  }

  test("conform_cast: scan reads only the declared columns") {
    val plan = formatted("conform_cast")
    // 16-column lineitem pruned to the 5 declared ones at the scan
    val readSchema = plan.linesIterator
      .find(_.trim.startsWith("ReadSchema:")).getOrElse("")
    for (c <- Seq("l_orderkey", "l_linenumber", "l_quantity",
        "l_returnflag", "l_shipdate"))
      assert(readSchema.contains(c), s"$c missing from $readSchema")
    assert(!readSchema.contains("l_comment") &&
      !readSchema.contains("l_extendedprice"),
      s"scan not pruned: $readSchema")
  }

  test("join_fk: dimension joins broadcast, fact is never shuffled twice") {
    val plan = formatted("join_fk")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("topk_orders: sort+limit folds to TakeOrderedAndProject") {
    val plan = formatted("topk_orders")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    // a global Sort would mean the full sort materializes before limit
    assert(!plan.contains("Sort ["), plan.take(2000))
  }

  test("hybrid_rank: both retrieval legs are TopN, never a global sort") {
    val plan = formatted("hybrid_rank")
    // lexical (BM25) and dense (cosine) top-50s must each fold to
    // TakeOrderedAndProject; the only full Sort allowed is the final
    // presentation sort over the ≤100-row fused frame
    val topn = plan.linesIterator
      .count(_.contains("TakeOrderedAndProject"))
    assert(topn >= 2, s"expected 2 TopN legs:\n${plan.take(3000)}")
    // dense leg: the single query vector rides as a broadcast
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(3000))
  }

  test("q1_agg: partial (map-side) aggregation before the shuffle") {
    val plan = formatted("q1_agg")
    // partial+final pair: the shuffle moves |groups| rows, not |rows|
    val hashAggs = plan.linesIterator
      .count(l => l.contains("+- HashAggregate") || l.startsWith("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate:\n$plan")
  }

  test("candidate-generation queries never plan a quadratic join") {
    // the dedup/similarity family's core scale claim: candidates come
    // from bucketed equi-joins, so no plan may contain a nested-loop
    // or cartesian product (the one sanctioned BNLJ is ann_topk's
    // bounded-chunk broadcast theta join, exercised separately)
    for (name <- Seq("dedup_minhash", "dedup_simhash", "ngram_jaccard",
        "embed_neardup", "fuzzy_join", "range_join", "fingerprint_pairs",
        // r12: the LSH-PPJoin rung and the truncated-dims IVF serve —
        // candidates/shortlists must stay equi-join bounded
        "ppjoin_lsh", "ann_ivf_mrl")) {
      val plan = formatted(name)
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n" + plan.take(1500))
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a nested loop join:\n" + plan.take(1500))
    }
    // these end in 1-row broadcast crossJoins (the recall-cell /
    // accumulate-flag pattern embed_matryoshka shares) — that BNLJ is
    // sanctioned; a CartesianProduct never is
    for (name <- Seq("ann_mrl_funnel", "maxsim_budget_curve",
        "ann_filtered", "ann_filtered_batch", "cc_forget",
        "dedup_provenance", "grad_accum_equiv",
        // r13: the clustered certifications and the labeled
        // maintenance fleets — same equi-join-bounded candidate
        // discipline
        "ann_ivf_clustered", "maxsim_ivf_clustered",
        "ann_filtered_forget", "ann_filtered_clustered",
        "ann_filtered_delta")) {
      val plan = formatted(name)
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n" + plan.take(1500))
    }
  }

  test("q6_forecast: all predicates and the 2-column projection reach " +
      "the scan") {
    val plan = formatted("q6_forecast")
    assert(plan.contains("PushedFilters:"), plan.take(2000))
    // the date range AND both value predicates must push — at 100 TB
    // this query IS its scan and row-group pruning is the whole cost
    for (p <- Seq("GreaterThanOrEqual(l_shipdate,", "LessThan(l_shipdate,",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)", "LessThan(l_quantity,24.0)"))
      assert(plan.contains(p), s"$p not pushed:\n" + plan.take(2500))
    val readSchema = plan.linesIterator
      .find(_.trim.startsWith("ReadSchema:")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") &&
      !readSchema.contains("l_returnflag"),
      s"scan not pruned to the 4 referenced columns: $readSchema")
  }

  test("q10_returned: top-20 folds to TakeOrderedAndProject over " +
      "broadcast dim joins") {
    val plan = formatted("q10_returned")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("Sort ["), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("TPC-H shape family: dims broadcast, no quadratic join anywhere") {
    // q7/q8/q9 star joins: every dim side must broadcast — the single
    // shuffle join allowed is the lineitem⋈orders fact-fact exchange;
    // the subquery shapes (q2/q4/q11/q15/q16/q13/q19/q20) must
    // decorrelate to joins, never a per-row re-execution or cartesian
    for (name <- Seq("q7_volume_shipping", "q8_market_share",
        "q9_profit_shape")) {
      val plan = formatted(name)
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: dims not broadcast:\n" + plan.take(1500))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a quadratic join:\n" + plan.take(1500))
    }
    // q12 sits here, not in the dim-broadcast list: its only join is
    // the lineitem⋈orders fact-fact edge, which at scale correctly
    // shuffles (any BroadcastHashJoin in its sf0.001 plan is a size
    // artifact, not an invariant worth pinning)
    for (name <- Seq("q2_min_cost", "q4_order_priority",
        "q11_important_value", "q15_top_supplier", "q16_supplier_cnt",
        "q13_order_counts", "q19_disjunctive", "q20_bulk_suppliers",
        "q12_late_priority")) {
      val plan = formatted(name)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a quadratic join:\n" + plan.take(1500))
    }
  }

  test("grouping_sets_rev: all four granularities from ONE scan via " +
      "Expand, never unioned re-scans") {
    val plan = formatted("grouping_sets_rev")
    assert(plan.contains("Expand"), plan.take(2000))
    // count detail-section entries ("(n) Scan parquet") — formatted
    // explain also repeats each node in the tree rendering
    val scans = plan.linesIterator
      .count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1, s"expected exactly 1 scan, got $scans:\n" +
      plan.take(2000))
  }

  test("window_range_frame: one Window pass per user partition, no " +
      "time-range self-join") {
    val plan = formatted("window_range_frame")
    assert(plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("Join"), s"sliding-hour total must not plan " +
      s"a self-join:\n" + plan.take(2000))
  }

  test("blocklist_match: one-pass automaton — NO join in the plan") {
    // the whole point of the Aho–Corasick formulation: the oracle
    // DEFINES the semantics as a documents × patterns contains-join,
    // but the engine must answer it with a single scan-stage pass
    // (pattern count never appears as a plan dimension)
    val plan = formatted("blocklist_match")
    assert(!plan.contains("Join"), plan.take(1500))
    assert(plan.contains("ac_match_ids"), plan.take(1500))
  }

  test("epoch_shuffle: each epoch folds to TopN, never a global sort") {
    val plan = formatted("epoch_shuffle")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    // the only Sort nodes allowed are the final tiny ordered output
    // and the 40-row window sort — no sort may sit on the corpus scan
    // side of a TakeOrdered
    assert(plan.contains("shuffle_key"), plan.take(1500))
  }

  test("shard_assign: pure scan-stage arithmetic — a single Exchange " +
      "only for the final presentation sort") {
    val plan = formatted("shard_assign")
    assert(plan.contains("hrw_shard"), plan.take(1500))
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"unexpected shuffles ($exchanges):\n" + plan.take(2000))
    assert(!plan.contains("Join"), plan.take(1500))
  }

  test("mine_pairs / dsir_select: margin and scoring joins stay equi " +
      "(no cartesian anywhere; the only BNLJ sites are sanctioned " +
      "bounded broadcasts)") {
    def fmt(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val (mp, sims) = graft.queries.ScaleQueries.minePairsFrame(spark, sf)
    val mpPlan = fmt(mp)
    sims.unpersist()
    assert(!mpPlan.contains("CartesianProduct"), mpPlan.take(1500))
    // the X-by-Y similarity scan is a sanctioned chunked-broadcast
    // theta join (ann_topk's shape); everything downstream of it —
    // top-k windows, neighborhood-sum joins, argmax — must be
    // window + EQUI-join only. The persisted sims frame prints as one
    // InMemoryRelation, so any BNLJ line beyond its subtree would be
    // a margin-side regression.
    val (ds, tf, vocab) = graft.queries.TextQueries.dsirSelectFrame(spark, sf)
    val dsPlan = fmt(ds)
    vocab.unpersist(); tf.unpersist()
    assert(!dsPlan.contains("CartesianProduct"), dsPlan.take(1500))
    // dsir's only nested-loop sites are 1-row broadcast scalars
    // (totals inside the ratio table, n_sel) — 2 distinct sites that
    // print up to 3× because the scored lineage is deliberately
    // unpersisted across its three consumers (see dsirSelectFrame).
    // The token-ratio and bucket-offset joins must stay EQUI: pin
    // both a BNLJ ceiling and the presence of the hash joins a
    // degradation would remove.
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(dsPlan).size
    assert(bnlj <= 6, s"dsir_select plans $bnlj BNLJs:\n" + dsPlan.take(2000))
    assert(dsPlan.contains("BroadcastHashJoin") ||
           dsPlan.contains("SortMergeJoin"), dsPlan.take(2000))
  }

  test("keyPairs salted path: one aggregate, no join, hot tiles spread over tasks") {
    // the salting escalation must not bring back a join: a salted plan
    // that degraded to BNLJ/cartesian would recreate the hot-task
    // problem it exists to solve, just wider. Cold and hot buckets go
    // through the one generator (no Union of two legs), and the hot
    // bucket's s(s+1)/2 tiles run in as many tasks as the session has
    import spark.implicits._
    val rows = ((1 to 40).map(i => ("hot", i.toLong)) ++
      (1 to 3).map(i => ("cold", 100L + i))).toDF("k", "id")
    val pairs = graft.ops.Dedup.keyPairs(rows, Seq("k"), 4, 4)
    val plan = pairs.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    assert(!plan.contains("Join") && !plan.contains("Union"), plan.take(1500))
    assert(plan.contains("HashAggregate"), plan.take(1500))
    assert(plan.contains("RoundRobinPartitioning"), plan.take(1500))
    val parts = pairs.filter($"id_b" <= 40L)
      .select(org.apache.spark.sql.functions.spark_partition_id()).distinct().count()
    val tasks = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(parts == math.min(4 * 5 / 2, tasks), s"hot pairs in $parts tasks")
  }

  test("join_incremental: delta date-splits push to the scans, joins broadcast") {
    val plan = formatted("join_incremental")
    // the delta predicates must prune at the parquet scan (at scale:
    // the delta partition read), and the delta join legs broadcast
    assert(plan.contains("GreaterThanOrEqual(o_orderdate,") ||
      plan.contains("LessThan(o_orderdate,"),
      "order date split not pushed:\n" + plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate,") ||
      plan.contains("LessThan(l_shipdate,"),
      "lineitem date split not pushed:\n" + plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("keyword_search: predicate on the scan, only the oracle sort shuffles") {
    val plan = formatted("keyword_search")
    // the operator itself is scan-stage (Filter directly over Scan);
    // the single Exchange in the plan is the total-order sort the
    // oracle contract requires, nothing else
    val exchanges = plan.linesIterator.count(_.contains("+- Exchange"))
    assert(exchanges <= 1,
      s"keyword_search grew a shuffle beyond the oracle sort:\n" +
        plan.take(2000))
    assert(plan.contains("Filter (2)") && plan.contains("Scan parquet  (1)"),
      "containment predicate no longer sits directly on the scan:\n" +
        plan.take(2000))
  }

  test("quality_stump: the candidate search is ONE scan + one 1-row " +
      "map-side-combined aggregate; the 36-row table never shuffles") {
    // the search aggregate is what runs at corpus scale — pin ITS
    // shape (the emitted 36-row result frame is driver-local by
    // design, the bounded-collect contract)
    val search = graft.ops.Stump.searchFrame(
      graft.ops.Classifier.features(
        Tables(spark, sf, "documents"), "doc_id", "text", "lang"))
    val plan = search.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 documents scan, found $scans")
    // only text+lang feed the features (column pruning through the
    // tokenizer expressions)
    assert(plan.contains("ReadSchema: struct<text:string,lang:string>"),
      plan.take(2000))
    // the one exchange is the 1-row final aggregate; partial sums
    // combine map-side so the shuffle carries cells, never rows
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1,
      s"stump search grew a shuffle, found $exchanges:\n" +
        plan.take(2000))
    assert(plan.contains("partial_"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("ema_smooth: exactly one hash Exchange on the key, then an " +
      "in-partition sort — the secondary-sort shape, no global sort " +
      "before the scan stage") {
    val plan = formatted("ema_smooth")
    // one shuffle for the key co-location + the oracle's total-order
    // rangepartitioning — nothing else
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2,
      s"expected <=2 exchanges (key hash + oracle sort), found " +
        s"$exchanges:\n" + plan.take(3000))
    assert(plan.contains("hashpartitioning(user_id"),
      "the recurrence must co-locate each key in one partition:\n" +
        plan.take(2000))
    // pruned read: 4 columns only
    assert(plan.contains("ReadSchema: struct<event_id:bigint,ts:timestamp") ||
      plan.contains("ReadSchema: struct<event_id:bigint,ts:timestamp_ntz"),
      plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("house sketch family: profile_sketch runs over the pinned pair " +
      "set (0 parquet scans in the final plan); bloom_house's filter " +
      "is scan-stage bit arithmetic (only the is_member flag joins); " +
      "quantile_hist's window runs over the aggregated bin cells") {
    val ps = formatted("profile_sketch")
    assert(!ps.contains("Scan parquet"),
      "profile_sketch must read only its pinned distinct pair set:\n" +
        ps.take(2000))
    val bh = formatted("bloom_house")
    val joins = "Join".r.findAllIn(bh).size
    assert(bh.contains("aggregate(") || bh.contains("hits"),
      "bloom_house must test the bitmap literal in the scan stage:\n" +
        bh.take(2000))
    assert(!bh.contains("CartesianProduct") &&
      !bh.contains("BroadcastNestedLoopJoin"),
      s"bloom_house plans a quadratic join:\n" + bh.take(3000))
    val qh = formatted("quantile_hist")
    // the bin expression keys the aggregate as _groupingexpression
    assert("Keys \\[2\\]: \\[g#\\d+, ".r.findFirstIn(qh).isDefined,
      "quantile_hist must aggregate to (group, bin) cells before any " +
        "window:\n" + qh.take(3000))
    assert(!qh.contains("CartesianProduct"))
  }

  test("scd2_salted: the corpus-side window is SALTED — row_number " +
      "partitions on (key, bucket), so the hot 5-value key never " +
      "pools in one task; the key-only window runs only over the " +
      "aggregated |keys x buckets| offset table, stitched back by " +
      "broadcast join") {
    val plan = formatted("scd2_salted")
    assert("row_number\\(\\) windowspecdefinition\\(event_type#\\d+, __bucket"
        .r.findFirstIn(plan).isDefined,
      "corpus row_number must partition on (event_type, __bucket):\n" +
        plan.take(3000))
    // the per-bucket stats reduction that bounds the key-only window
    assert("Keys \\[2\\]: \\[event_type#\\d+, __bucket".r
        .findFirstIn(plan).isDefined,
      "expected the (key, bucket) stats aggregate:\n" + plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"),
      "the offset stitch must broadcast the tiny stats table:\n" +
        plan.take(3000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("spatial_join / spatial_knn / forecast_backtest: candidate " +
      "generation is equi-join everywhere — no CartesianProduct/BNLJ " +
      "(ann_rank_eval is excluded deliberately: its exact-baseline " +
      "leg IS the bounded-broadcast theta join, whose physical form " +
      "is a size-gated BNLJ by design — the ann_topk contract)") {
    for (name <- Seq("spatial_join", "spatial_knn",
        "forecast_backtest")) {
      val plan = formatted(name)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a quadratic join:\n" + plan.take(3000))
    }
  }

  test("pca fused stats: ONE embeddings scan into ONE " +
      "ObjectHashAggregate — no Generate, the exchange ships one " +
      "flat stats buffer per partition") {
    val xe = graft.ops.Pca.quantized(
      Tables(spark, sf, "embeddings"), "vec_id", "embedding")
    val frame = xe.agg(
      graft.functions.VectorStatsAgg.vector_stats(
        org.apache.spark.sql.functions.col("xe")))
    val plan = frame.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 embeddings scan, found $scans")
    assert(plan.contains("ReadSchema: struct<embedding:array<float>>"),
      plan.take(2000))
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1, s"found $exchanges exchanges:\n" +
      plan.take(2000))
    assert(!plan.contains("Generate"),
      "the fused aggregate must not explode rows:\n" + plan.take(2000))
    assert(plan.contains("partial_"),
      "stats buffers must combine map-side:\n" + plan.take(2000))
  }

  test("pca covariance: ONE embeddings scan (embedding column only) " +
      "feeding a map-side-combined cell aggregate — the exchange " +
      "carries d(d+1)/2 integer cells, never rows") {
    val xe = graft.ops.Pca.quantized(
      Tables(spark, sf, "embeddings"), "vec_id", "embedding")
    val cells = graft.ops.Pca.covCells(xe, new Array[Long](64))
    val plan = cells.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 embeddings scan, found $scans")
    assert(plan.contains("ReadSchema: struct<embedding:array<float>>"),
      "covariance must prune to the vector column:\n" + plan.take(2000))
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1,
      s"cell aggregate grew a shuffle, found $exchanges:\n" +
        plan.take(2000))
    assert(plan.contains("partial_"),
      "cell sums must combine map-side:\n" + plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("pca_project: map-only serving — the centered dot product is " +
      "plan literals inside the scan stage, no join, only the oracle " +
      "sort exchanges") {
    val plan = formatted("pca_project")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1,
      s"projection grew a shuffle beyond the oracle sort:\n" +
        plan.take(2000))
    assert(!plan.contains("Join"), "projection must not join:\n" +
      plan.take(2000))
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 embeddings scan, found $scans")
  }

  test("holt_linear / ema_anomaly: the multi-state recurrences keep " +
      "ema_smooth's secondary-sort shape — widening the state never " +
      "adds a shuffle") {
    for (q <- Seq("holt_linear", "ema_anomaly")) {
      val plan = formatted(q)
      val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
      assert(exchanges <= 2,
        s"$q: expected <=2 exchanges (key hash + oracle sort), found " +
          s"$exchanges:\n" + plan.take(3000))
      assert(plan.contains("hashpartitioning(user_id"),
        s"$q must co-locate each key in one partition:\n" +
          plan.take(2000))
      assert(plan.contains("ReadSchema: struct<event_id:bigint,ts:timestamp"),
        s"$q scan not pruned to 4 columns:\n" + plan.take(2000))
      assert(!plan.contains("CartesianProduct"))
    }
  }

  test("pca_project2: the 2-D basis projection keeps pca_project's " +
      "one-scan map-only shape — the second axis is free") {
    val plan = formatted("pca_project2")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1,
      s"projection grew a shuffle beyond the oracle sort:\n" +
        plan.take(2000))
    assert(!plan.contains("Join"), "projection must not join:\n" +
      plan.take(2000))
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 embeddings scan, found $scans")
  }

  test("seasonality_strength: predecessor lookups are equi-joins on " +
      "the PINNED |types x days| aggregate — zero parquet scans in " +
      "the final plan, never a quadratic join") {
    val plan = formatted("seasonality_strength")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "predecessor lookup planned quadratic:\n" + plan.take(2000))
    // the daily aggregate is materialized once (the base plus two lag
    // arms would otherwise re-scan the corpus three times — Spark
    // does not reuse an un-pinned aggregate subtree), so the final
    // plan joins three reads of the checkpoint, not three scans
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 0,
      s"expected the pinned daily aggregate (0 parquet scans in the " +
        s"final plan), found $scans:\n" + plan.take(2000))
  }

  test("partition_manifest: one scan, one day-grouped partial+final " +
      "aggregate; the digest wrap is post-aggregation arithmetic") {
    val plan = formatted("partition_manifest")
    val scans = "\\(\\d+\\) Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected 1 events scan, found $scans")
    val hashAggs = "\\(\\d+\\) HashAggregate".r.findAllIn(plan).size
    assert(hashAggs == 2,
      s"expected partial+final aggregate pair, found $hashAggs:\n" +
        plan.take(2000))
    assert(!plan.contains("Join"))
  }

  // --- CoalesceSinglePartitionScan ------------------------------------

  private def hashExchanges(plans: Seq[SparkPlan]): Seq[SparkPlan] =
    plans.flatMap(p => collect(p) {
      case e: ShuffleExchangeLike
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    })

  /** `CoalesceExec(1)` nodes over a DSv2 scan unit. */
  private def coalesced(plans: Seq[SparkPlan]): Seq[CoalesceExec] =
    plans.flatMap(p => collect(p) {
      case c: CoalesceExec
          if c.numPartitions == 1 && c.child.exists(_.isInstanceOf[BatchScanExec]) => c
    })

  /** Runs `body` with session confs set, then restores each one. */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val MinPartitionSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
  private val Advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private val ParallelismFirst = "spark.sql.adaptive.coalescePartitions.parallelismFirst"

  /** The statistics a DSv2 scan in `df`'s plan reports. */
  private def reported(df: DataFrame): Statistics =
    df.queryExecution.sparkPlan.collectFirst { case s: BatchScanExec => s.scan }.get
      .asInstanceOf[SupportsReportStatistics].estimateStatistics()

  private def reportedBytes(df: DataFrame): Long = reported(df).sizeInBytes().getAsLong

  private def dailyCfg(out: String) = OutreachPipeline.SyncConfig(
    resource = "prospects", pagesDir = "", outDir = out,
    replicationType = "previous_day", today = LocalDate.of(2019, 7, 5))

  private def jsonapi(options: Map[String, String]): DataFrame =
    spark.read.format("graft.sources.JsonApiSource")
      .option("resource", "prospects").options(options).load()

  /** The prospects pages in `dir` behind [[FixtureApiServer]]'s
    * opaque-cursor chain: one sequential scan partition.
    */
  private def overServer[T](dir: String)(f: DataFrame => T): T = {
    JsonApiToken.clear()
    val server = new FixtureApiServer("prospects", dir)
    try f(jsonapi(server.sourceOptions)) finally server.stop()
  }

  private val fixturePages = getClass.getResource("/jsonapi_sync/prospects").getPath

  /** The checked-in prospects pages over the chain. */
  private def overChain[T](f: DataFrame => T): T = overServer(fixturePages)(f)

  test("CoalesceSinglePartitionScan: a previous_day sync over the opaque " +
      "cursor chain writes in ONE job with no Exchange") {
    val out = TempDirs.create("graft-daily").toString
    val table = s"$out/outreach_prospects"
    val run = overChain { pages =>
      SparkRun(spark) {
        Sink.partitionedWindowLoad(
          OutreachPipeline.conformedFrom(pages, dailyCfg(out)), "updatedAt", table)
      }
    }
    assert(coalesced(run.plans).size == 1, run.plans.mkString("\n"))
    assert(hashExchanges(run.plans).isEmpty, run.plans.mkString("\n"))
    // walk, dedup and write in one job; the shuffle plan ran two
    assert(run.jobs == 1, s"jobs: ${run.jobs}")
    assert(run.stageTasks == Seq(1), run.stageTasks)
    // id 2's 2019-07-04 version is the one row of that day
    val rows = spark.read.parquet(table).select("id", "ds").collect()
      .map(r => (r.getLong(0), r.get(1).toString)).toSeq
    assert(rows == Seq((2L, "2019-07-04")), rows)
  }

  test("CoalesceSinglePartitionScan: a page directory of several files " +
      "keeps its hash Exchange") {
    val dir = getClass.getResource("/jsonapi/prospects").getPath
    val run = SparkRun(spark) {
      OutreachPipeline.conformedFrom(jsonapi(Map("path" -> dir)),
        dailyCfg("").copy(today = LocalDate.of(2019, 6, 4))).collect()
    }
    assert(run.value.map(_.getAs[Long]("id")).toSeq == Seq(2L))
    assert(coalesced(run.plans).isEmpty, run.plans.mkString("\n"))
    assert(hashExchanges(run.plans).nonEmpty, run.plans.mkString("\n"))
  }

  test("CoalesceSinglePartitionScan: a scan over AQE's one-partition " +
      "bound keeps its hash Exchange") {
    overChain { pages =>
      val bytes = reportedBytes(pages)
      assert(bytes > 1L, s"reported size: $bytes")
      def dedupRun() = SparkRun(spark) {
        Incremental.dedupLatest(pages, Seq("id"), "attributes_updatedAt",
          Seq("type")).collect()
      }
      def isCoalesced(run: SparkRun[_]): Boolean = {
        val kept = hashExchanges(run.plans).nonEmpty
        assert(coalesced(run.plans).nonEmpty != kept, run.plans.mkString("\n"))
        !kept
      }
      val fits = dedupRun()
      assert(isCoalesced(fits))
      val under = (bytes - 1).toString
      // above minPartitionSize but far below the advisory size: over
      // the bound of AQE's default, parallelism-first coalescing
      val over = withConfs(MinPartitionSize -> under)(dedupRun())
      assert(!isCoalesced(over))
      assert(over.value.toSet == fits.value.toSet)
      // without parallelism-first, AQE folds up to the advisory size
      withConfs(ParallelismFirst -> "false", MinPartitionSize -> under) {
        assert(isCoalesced(dedupRun()))
        assert(!withConfs(Advisory -> under)(isCoalesced(dedupRun())))
      }
      withConfs("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        assert(!isCoalesced(dedupRun()))
      }
    }
  }

  test("CoalesceSinglePartitionScan: the JSON:API chain reports at least " +
      "the bytes it shuffles, and no size when its count is stale") {
    val rnd = new scala.util.Random(7)
    // long, incompressible values: the schema's default width (about
    // 3.6 KB for the 207 prospects columns) understates these rows
    val recs = (1L to 30L).map(i => (i % 20, "prospect",
      f"2019-06-${i % 28 + 1}%02dT00:00:00Z", Seq.fill(8000)(rnd.nextInt(16).toHexString).mkString))
    def dedupRun(pages: DataFrame) = SparkRun(spark) {
      Incremental.dedupLatest(pages, Seq("id"), "attributes_updatedAt").collect()
    }
    Seq(fixturePages, TestPages.write(recs.grouped(15).toSeq)).foreach { dir =>
      overServer(dir) { pages =>
        val bytes = reportedBytes(pages)
        // with coalescing off the shuffle stays, and AQE measures it
        val run = withConfs("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
          dedupRun(pages)
        }
        val written = run.plans.flatMap(p => collect(p) {
          case s: ShuffleQueryStageExec => s.mapStats.get.bytesByPartitionId.sum
        })
        assert(written.size == 1 && written.head <= bytes, s"$dir: $written B vs $bytes B")
      }
    }
    // a count no larger than page 1 while a next page exists is stale:
    // the size is unknown, so the chain keeps its shuffle
    overServer(TestPages.write(recs.grouped(15).toSeq, count = Some(15))) { pages =>
      val stats = reported(pages)
      assert(!stats.sizeInBytes().isPresent && !stats.numRows().isPresent)
      val run = dedupRun(pages)
      assert(coalesced(run.plans).isEmpty && hashExchanges(run.plans).nonEmpty,
        run.plans.mkString("\n"))
      assert(run.value.length == 20)
    }
  }

  test("CoalesceSinglePartitionScan: AQE reads a shuffle within the rule's " +
      "bound as one partition") {
    import org.apache.spark.sql.functions._
    // (partitions AQE read the shuffle as, bytes the shuffle wrote)
    def shuffled(): (Int, Long) = {
      val df = spark.range(0L, 20000L)
        .select(col("id"), sha2(col("id").cast("string"), 256).as("h"))
        .repartition(col("id"))
      df.collect()
      val plan = df.queryExecution.executedPlan
      val stage = collect(plan) { case s: ShuffleQueryStageExec => s }.head
      val parts = collect(plan) { case r: AQEShuffleReadExec => r.partitionSpecs.size }
        .headOption.getOrElse(stage.shuffle.numPartitions)
      (parts, stage.mapStats.get.bytesByPartitionId.sum)
    }
    val total = shuffled()._2
    // (confs, whether the shuffle is within the bound); each case over
    // the bound is one where AQE splits the shuffle too
    val cases = Seq(
      Seq(MinPartitionSize -> s"$total") -> true,
      Seq(MinPartitionSize -> s"${total / 5}") -> false,
      Seq(ParallelismFirst -> "false", MinPartitionSize -> s"${total / 2}") -> true,
      Seq(ParallelismFirst -> "false", Advisory -> s"${total / 3}",
        MinPartitionSize -> s"${total / 8}") -> false,
      Seq("spark.sql.adaptive.coalescePartitions.minPartitionNum" -> "1",
        MinPartitionSize -> s"${total / 2}") -> true,
      Seq("spark.sql.adaptive.coalescePartitions.enabled" -> "false") -> false)
    cases.foreach { case (confs, one) =>
      withConfs(confs: _*) {
        val bound = CoalesceSinglePartitionScan(spark).onePartitionBytes
        val (parts, bytes) = shuffled()
        assert(bytes == total)
        assert(bound.exists(_ >= bytes) == one, s"$confs: bound $bound, $bytes B")
        assert((parts == 1) == one, s"$confs: AQE read $parts partitions of $bytes B")
      }
    }
  }

  test("CoalesceSinglePartitionScan: applying the rule twice wraps the " +
      "scan once") {
    val dir = TestPages.write(Seq(Seq(
      (1L, "prospect", "2019-06-01T00:00:00Z", "a"),
      (1L, "prospect", "2019-06-02T00:00:00Z", "b"))))
    val planned = Incremental.dedupLatest(jsonapi(Map("path" -> dir)),
      Seq("id"), "attributes_updatedAt").queryExecution.sparkPlan
    val once = CoalesceSinglePartitionScan(spark)(planned)
    val twice = CoalesceSinglePartitionScan(spark)(once)
    assert(coalesced(Seq(once)).size == 1, once)
    assert(twice.collect { case c: CoalesceExec => c }.size == 1, twice)
    assert(twice.fastEquals(once))
  }

  test("CoalesceSinglePartitionScan: the coalesce sits above the scan's " +
      "UnsafeRow projection, with or without whole-stage codegen") {
    val dir = TestPages.write(Seq(Seq(
      (1L, "prospect", "2019-06-01T00:00:00Z", "a"),
      (1L, "prospect", "2019-06-02T00:00:00Z", "b"),
      (2L, "account", "2019-06-02T00:00:00Z", "c"))))
    Seq("true", "false").foreach { codegen =>
      withConfs("spark.sql.codegen.wholeStage" -> codegen) {
        // every scan column and a filter the source cannot take: the
        // planner's Project over the Filter is an identity, kept only
        // because the row-based scan needs it
        val run = SparkRun(spark) {
          Incremental.dedupLatest(jsonapi(Map("path" -> dir))
            .filter(org.apache.spark.sql.functions.col("attributes_firstName")
              .rlike("^[ac]$")),
            Seq("id"), "attributes_updatedAt").collect()
        }
        assert(run.value.map(_.getAs[String]("attributes_firstName")).sorted
          .toSeq == Seq("a", "c"), s"codegen=$codegen")
        val units = coalesced(run.plans)
        assert(units.size == 1, run.plans.mkString("\n"))
        assert(units.head.child.isInstanceOf[ProjectExec], units.head)
      }
    }
  }

  test("CoalesceSinglePartitionScan: a coalesced scan joined to a " +
      "multi-partition parquet table is re-shuffled, not collapsed") {
    import org.apache.spark.sql.functions._
    val recs = (1L to 40L).map(i =>
      (i, "prospect", f"2019-06-${i % 28 + 1}%02dT00:00:00Z", s"p$i"))
    val onePage = TestPages.write(Seq(recs))
    val threePages = TestPages.write(recs.grouped(14).toSeq)
    val facts = TempDirs.create("graft-facts").toString
    spark.range(1L, 20001L)
      .select(col("id"), sha2(col("id").cast("string"), 256).as("v"))
      .repartition(4).write.mode("overwrite").parquet(facts)
    def joined(dir: String): DataFrame =
      jsonapi(Map("path" -> dir)).select("id", "attributes_firstName")
        .join(spark.read.parquet(facts), "id")
    // the one-page scan is within the rule's bound; the join's shuffle,
    // which carries the facts too, is several times over it
    val bound = reportedBytes(jsonapi(Map("path" -> onePage)))
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        MinPartitionSize -> bound.toString) {
      assert(spark.read.parquet(facts).rdd.getNumPartitions > 1)
      val one = SparkRun(spark)(joined(onePage).collect())
      val many = joined(threePages).collect()
      assert(coalesced(one.plans).size == 1, one.plans.mkString("\n"))
      assert(one.value.length == 40)
      assert(one.value.toSet == many.toSet)
      // EnsureRequirements ran after the rule: the join stage (the
      // last to complete) runs at the shuffle's partition count
      assert(one.stageTasks.last > 1, one.stageTasks)
    }
  }
}
