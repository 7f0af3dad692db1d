package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Kernels.mix64

/** Empirical scale probe for the heaviest query families (SCALE.md's
  * near-linear claims, round-7 task): generates a ~sf1 (10x the
  * driver's sf0.1) `documents`/`embeddings`/`orders`/`lineitem` slice
  * with the SAME distributions as the driver data, then benches
  * `dedup_minhash` / `ann_lsh` / `pagerank` at both scales and prints
  * one JSON line per (query, sf) plus the observed scaling exponent
  * log10(t_sf1 / t_sf0.1).
  *
  * Distribution fidelity (measured off /root/testdata/sf0.1):
  *  - documents: 31-word closed vocabulary, uniform 10..100 words per
  *    doc, lang {en 40%, es/fr/zh/de 15%}, 20 sources by id mod —
  *    near-dup/LSH-bucket structure arises from vocab collisions
  *    exactly as in the driver corpus (50k docs = 10x 5k);
  *  - embeddings: 64-dim L2-normalized gaussians (per-dim std 1/8
  *    pre-normalization), labels 0..9 (20k = 10x 2k);
  *  - orders/lineitem: the sf0.1 tables replicated 10x with per-copy
  *    key offsets, so the derived customer-supplier graph becomes 10
  *    disjoint copies — 10x nodes and edges.
  *
  * Everything is seeded SplitMix64 — rerunning regenerates the
  * identical slice. Output lands under target/ (gitignored); the
  * numbers go into SCALE.md's measured-scaling table.
  */
object ScaleProbe {

  private val Vocab = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Array("en", "en", "en", "en", "es", "fr", "zh", "de")

  def generate(spark: SparkSession, outDir: String, factor: Int): Unit = {
    import spark.implicits._
    val srcSf = "/root/testdata/sf0.1"
    val nDocs = 5000 * factor
    val nEmb = 2000 * factor

    // documents: per-row arithmetic over a range — fully distributed,
    // no driver-side materialization. Duplicate structure is PLANTED
    // (as in the driver corpus, where dups are planted rather than
    // vocab-collision luck): every 40th doc is an exact copy of its
    // predecessor, every 83rd a near-dup (one word swapped), so the
    // MinHash verification join has real pair work at 10x — without
    // planting, independent sampling yields ZERO Jaccard>=0.7 pairs
    // and dedup_minhash would time only the candidate stage.
    val docs = spark.range(0, nDocs).mapPartitions { it =>
      def words(id: Long): Array[String] = {
        val n = 10 + (Math.floorMod(mix64(id * 31L + 7L), 91L)).toInt
        Array.tabulate(n)(i =>
          Vocab(Math.floorMod(mix64(id * 1031L + i), 31L).toInt))
      }
      // resolve the plant rules through the REMAP CHAIN: a doc copies
      // its predecessor's ACTUAL words, not the predecessor's raw
      // sample — otherwise two adjacent remapped ids silently plant no
      // pair at all (id ≡ 2 mod 83 with id−1 ≡ 1 mod 40 made doc id a
      // variant of a text doc id−1 never had). The chain terminates at
      // depth ≤ 2 (two ids ≡ 2 mod 83 / ≡ 1 mod 40 are never within 2
      // of each other); resolved ITERATIVELY — a recursive local def
      // captures the enclosing object into the task closure
      // (NotSerializableException).
      def docWords(id0: Long): Array[String] = {
        var cur = id0
        var swapSeeds = List.empty[Long] // outermost collected first
        while (cur % 83 == 2 || cur % 40 == 1) {
          if (cur % 83 == 2) swapSeeds ::= cur // near-dup: swap last word
          cur -= 1                             // exact dup: plain copy
        }
        val v = words(cur)
        // apply innermost swap first (the prepend above reversed the
        // collection order, so iteration is already innermost→outermost)
        for (seed <- swapSeeds)
          v(v.length - 1) = Vocab(Math.floorMod(mix64(seed), 31L).toInt)
        v
      }
      it.map { id =>
        val text = docWords(id).mkString(" ")
        (id, text, Langs(Math.floorMod(mix64(id + 99L), 8L).toInt),
          s"src${id % 20}", text.length.toLong)
      }
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")

    // embeddings: Box-Muller gaussians from mix64 streams, normalized
    val emb = spark.range(0, nEmb).mapPartitions { it =>
      it.map { id =>
        val v = new Array[Float](64)
        var i = 0
        var norm = 0.0
        while (i < 64) {
          val u1 = (Math.floorMod(mix64(id * 257L + i * 2L), 1L << 52).toDouble + 1.0) / (1L << 52).toDouble
          val u2 = Math.floorMod(mix64(id * 257L + i * 2L + 1L), 1L << 52).toDouble / (1L << 52).toDouble
          val g = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2) / 8.0
          v(i) = g.toFloat
          norm += g * g
          i += 1
        }
        val s = 1.0 / math.sqrt(norm)
        i = 0
        while (i < 64) { v(i) = (v(i) * s).toFloat; i += 1 }
        (id, v, Math.floorMod(mix64(id + 5L), 10L).toInt)
      }
    }.toDF("vec_id", "embedding", "label")
    emb.repartition(8).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")

    // graph tables: 10 disjoint key-shifted copies
    val copies = spark.range(0, factor).select(col("id").as("__k"))
    val orders = spark.read.parquet(s"$srcSf/orders.parquet")
    orders.crossJoin(broadcast(copies))
      .withColumn("o_orderkey", col("o_orderkey") + col("__k") * 10000000L)
      .withColumn("o_custkey", col("o_custkey") + col("__k") * 1000000L)
      .drop("__k")
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/orders.parquet")
    val lineitem = spark.read.parquet(s"$srcSf/lineitem.parquet")
    lineitem.crossJoin(broadcast(copies))
      .withColumn("l_orderkey", col("l_orderkey") + col("__k") * 10000000L)
      .withColumn("l_suppkey", col("l_suppkey") + col("__k") * 1000000L)
      .drop("__k")
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/lineitem.parquet")
    generateEvents(spark, outDir, factor)
    generateCustomer(spark, outDir, factor)
  }

  /** 10x `customer` for the ER probe: key-shifted copies with the
    * copy digit appended TWICE to the name — two substitutions, so
    * cross-copy name pairs sit at edit distance ≥ 2 and the copies
    * stay disjoint under the distance-1 matcher (a bare copy would
    * pair every name with its 9 identical twins — factor² pair
    * growth that says nothing about the operator).
    */
  def generateCustomer(spark: SparkSession, outDir: String,
                       factor: Int): Unit = {
    val srcSf = "/root/testdata/sf0.1"
    val copies = spark.range(0, factor).select(col("id").as("__k"))
    spark.read.parquet(s"$srcSf/customer.parquet")
      .crossJoin(broadcast(copies))
      .withColumn("c_custkey", col("c_custkey") + col("__k") * 1000000L)
      .withColumn("c_name",
        concat(col("c_name"), lit("-"), col("__k"), col("__k")))
      .drop("__k")
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/customer.parquet")
  }

  /** events at 10x: key-shifted copies like the graph tables —
    * event_id/user_id offset per copy, ts/value untouched. That is
    * the scaling shape the recurrence + manifest families meet in
    * production: 10x USERS with same-length per-user series (the
    * per-partition linear scan stays per-key-bounded), and the same
    * ~30 day-partitions with 10x rows each (the manifest's grouped
    * aggregate stays |days|-wide). Split out of [[generate]] so an
    * outDir generated by an earlier round backfills events without
    * regenerating everything.
    */
  def generateEvents(spark: SparkSession, outDir: String,
                     factor: Int): Unit = {
    val srcSf = "/root/testdata/sf0.1"
    val copies = spark.range(0, factor).select(col("id").as("__k"))
    val events = spark.read.parquet(s"$srcSf/events.parquet")
    events.crossJoin(broadcast(copies))
      .withColumn("event_id", col("event_id") + col("__k") * 100000000L)
      .withColumn("user_id", col("user_id") + col("__k") * 10000000L)
      .drop("__k")
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/events.parquet")
  }

  /** Dimension tables for the FK-graph probes (r11 backfill): nation
    * and part copy verbatim (their keys are NOT shifted in the fact
    * replication — l_partkey/n_nationkey ranges are reused by every
    * copy), supplier replicates with the SAME +k·10⁶ s_suppkey shift
    * lineitem's l_suppkey gets, so the supplier edge stays
    * orphan-free at 10×. (The events→customer edge is knowingly
    * orphaned in the slice — user_id shifts by 10⁷ vs customer's
    * 10⁶ — which only changes ri_audit's reported counts there, not
    * its cost shape.)
    */
  def generateDims(spark: SparkSession, outDir: String,
                   factor: Int): Unit = {
    val srcSf = "/root/testdata/sf0.1"
    val copies = spark.range(0, factor).select(col("id").as("__k"))
    spark.read.parquet(s"$srcSf/nation.parquet")
      .write.mode("overwrite").parquet(s"$outDir/nation.parquet")
    spark.read.parquet(s"$srcSf/part.parquet")
      .repartition(8).write.mode("overwrite")
      .parquet(s"$outDir/part.parquet")
    spark.read.parquet(s"$srcSf/supplier.parquet")
      .crossJoin(broadcast(copies))
      .withColumn("s_suppkey", col("s_suppkey") + col("__k") * 1000000L)
      .drop("__k")
      .repartition(8).write.mode("overwrite")
      .parquet(s"$outDir/supplier.parquet")
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("target/scale_sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)
    if (!new java.io.File(s"$outDir/documents.parquet").exists()) {
      System.err.println(s"[scale-probe] generating ${factor}x slice in $outDir")
      generate(spark, outDir, factor)
    } else if (!new java.io.File(s"$outDir/events.parquet").exists()) {
      // r9 backfill: pre-r9 slices lack the events table the
      // recurrence/manifest probes read
      System.err.println(s"[scale-probe] backfilling ${factor}x events")
      generateEvents(spark, outDir, factor)
    }
    if (new java.io.File(s"$outDir/documents.parquet").exists() &&
        !new java.io.File(s"$outDir/customer.parquet").exists()) {
      // r11 backfill: pre-r11 slices lack the customer table the ER
      // probe reads
      System.err.println(s"[scale-probe] backfilling ${factor}x customer")
      generateCustomer(spark, outDir, factor)
    }
    if (new java.io.File(s"$outDir/documents.parquet").exists() &&
        !new java.io.File(s"$outDir/nation.parquet").exists()) {
      // r11 backfill II: the FK-graph dims the ri_audit probe reads
      System.err.println(s"[scale-probe] backfilling ${factor}x dims")
      generateDims(spark, outDir, factor)
    }
    // third field: time COLD (single run) instead of best-of-2 — the
    // trained-family queries memoize their training per (dir, version)
    // ([[graft.Memo]]), so a second run times only the post-training
    // apply and would fake a near-zero exponent; the training pass IS
    // the scaling story being measured (r7 VERDICT task 7).
    val targets: Seq[(String, (SparkSession, String) => DataFrame, Boolean)] = Seq(
      ("dedup_minhash", graft.queries.ScaleQueries.queries("dedup_minhash"), false),
      ("ann_lsh", graft.queries.ScaleQueries.queries("ann_lsh"), false),
      ("pagerank", graft.queries.AdvancedQueries.queries("pagerank"), false),
      ("ann_ivfpq", graft.queries.ScaleQueries.queries("ann_ivfpq"), true),
      ("quality_train", graft.queries.TextQueries.queries("quality_train"), true),
      // r8 continuation: the evaluation family (cold — quality_auc
      // trains via the shared classifier memo, and the training pass is
      // part of its cost story), the Bellman–Ford rounds, and the
      // bounded-aggregator sampler (both warm — no trained state)
      ("quality_auc", graft.queries.TextQueries.queries("quality_auc"), true),
      ("sssp_weighted",
        graft.queries.AdvancedQueries.queries("sssp_weighted"), false),
      ("reservoir_sample",
        graft.queries.TextQueries.queries("reservoir_sample"), false),
      // r8 continuation II: the second-moment family (all cold — the
      // trained direction / moment vectors memoize per dir, so a
      // best-of-2 would time only the serving pass; the covariance
      // scan IS the scaling story: cells are O(d²·partitions)
      // regardless of corpus size, so the exponent should track the
      // scan, not the statistic)
      ("pca_power", graft.queries.ScaleQueries.queries("pca_power"), true),
      // r8 closer: the second spectral graph member — per half-step one
      // edge⋈score join + aggregate, so the exponent should track the
      // edge volume like pagerank's
      ("hits_rank", graft.queries.AdvancedQueries.queries("hits_rank"), false),
      ("corr_matrix", graft.queries.ScaleQueries.queries("corr_matrix"), true),
      ("embed_standardize",
        graft.queries.ScaleQueries.queries("embed_standardize"), true),
      // r9: the recurrence family (per-key per-partition linear scan —
      // cost/row should be flat, so the exponent tracks row volume /
      // parallelism) and the manifest (ONE day-grouped aggregate over
      // a |days|-wide exchange — should be near-flat at 10x)
      ("ema_smooth", graft.queries.AdvancedQueries.queries("ema_smooth"),
        false),
      ("partition_manifest",
        graft.queries.AdvancedQueries.queries("partition_manifest"), false),
      // r9 closers: the reconciliation diff (two manifest scans + a
      // |days|-wide full outer join — should track the scans) and
      // seasonality (three pruned scans reduced before any join)
      ("manifest_diff",
        graft.queries.AdvancedQueries.queries("manifest_diff"), false),
      ("seasonality_strength",
        graft.queries.AdvancedQueries.queries("seasonality_strength"),
        false),
      // r10: the streaming family — their bench cost is CLAIMED to be
      // fixed micro-batch overhead at test SF; these two measure the
      // per-row marginal cost directly (keyed dedup state and
      // two-sided join state over 10x events). Warm (best-of-2): the
      // per-dir stage split is session-cached, so run 2 times only
      // the streaming execution itself
      ("stream_dedup",
        graft.queries.AdvancedQueries.queries("stream_dedup"), false),
      ("stream_join",
        graft.queries.AdvancedQueries.queries("stream_join"), false),
      // r10 closers: the salted SCD2 (two pruned scans + the salted
      // window — should track row volume), the house HLL (scan-stage
      // hash + register cells — should be near-flat past the scan),
      // and the maintained IVF index (cold — the base build + delta
      // merge IS the maintenance cost story; memoized per dir)
      ("scd2_salted",
        graft.queries.AdvancedQueries.queries("scd2_salted"), false),
      ("approx_distinct",
        graft.queries.AdvancedQueries.queries("approx_distinct"), false),
      ("ann_ivf_delta",
        graft.queries.ScaleQueries.queries("ann_ivf_delta"), true),
      // r10 final: sliding distinct over the register store — the
      // window merge runs over |days x 1024| cells, so past the
      // distinct-pair scan the exponent should be near-flat
      ("hll_sliding",
        graft.queries.AdvancedQueries.queries("hll_sliding"), false),
      // r11: the fused multi-subspace PQ trainer (cold — pq_encode
      // trains all 8 sub-codebooks through the per-dir memo, and the
      // one-scan-per-Lloyd-action claim is the scaling story; encode
      // rides the same run)
      ("pq_encode", graft.queries.ScaleQueries.queries("pq_encode"), true),
      // r11: the persisted IVF build under the √n-stride codebook
      // (cold — fullIvfIndex memoizes per dir): assignment is
      // n·nlist·d with nlist ≈ 4√n, so the exponent should fall
      // from the fixed-stride build's n² shape
      ("ann_ivf_indexed",
        graft.queries.ScaleQueries.queries("ann_ivf_indexed"), true),
      // r11 closers: the persisted IVF-PQ build (cold — PQ encode +
      // coarse assignment + partitioned code write per dir memo) and
      // the HLL set-algebra overlap (warm — register cells only past
      // the distinct-pair scan, so the exponent should be near-flat)
      ("ann_ivfpq_indexed",
        graft.queries.ScaleQueries.queries("ann_ivfpq_indexed"), true),
      ("hll_intersect",
        graft.queries.AdvancedQueries.queries("hll_intersect"), false),
      // r11 batch 2: the exact prefix-filtered set-similarity join
      // (warm — no trained state; candidate volume is the scaling
      // story: Σ_prefix-shingle df², data-dependent by design), the
      // banded dHash near-dup (warm — (band, id) shuffles), the
      // IVF-SQ maintenance (cold — base build + delta merge per dir
      // memo, the ann_ivf_delta story on SQ codes), and the ACF
      // diagnostic (warm — one daily-cell shuffle, then |types×days|
      // arithmetic)
      ("ppjoin_pairs",
        graft.queries.ScaleQueries.queries("ppjoin_pairs"), false),
      ("multimodal_dhash",
        graft.queries.TextQueries.queries("multimodal_dhash"), false),
      ("ann_ivfsq_delta",
        graft.queries.ScaleQueries.queries("ann_ivfsq_delta"), true),
      ("acf_daily",
        graft.queries.AdvancedQueries.queries("acf_daily"), false),
      // r11 batch 2 closers: the Hilbert layout key (warm — one
      // scan-stage kernel + the layout sort) and the embedding drift
      // monitor (warm — one scan → d×2 cells)
      ("hilbert_key",
        graft.queries.AdvancedQueries.queries("hilbert_key"), false),
      ("embed_drift",
        graft.queries.ScaleQueries.queries("embed_drift"), false),
      // r11 batch 3: the CM join estimator (warm — two 64-cell
      // sketches + one 64-row join) and warm-start PR maintenance
      // (warm — 11 join+agg rounds over the edge tables; exponent
      // should track edge volume like pagerank's)
      ("cms_join_est",
        graft.queries.AdvancedQueries.queries("cms_join_est"), false),
      ("pagerank_delta",
        graft.queries.AdvancedQueries.queries("pagerank_delta"), false),
      // r11 batch 4: incremental posting-list maintenance (warm —
      // base/delta gram explodes + the full-outer merge on touched
      // grams; exponent should track the gram pair volume)
      ("inverted_delta",
        graft.queries.TextQueries.queries("inverted_delta"), false),
      // r11 batch 5: incremental CC maintenance (warm — star edges +
      // delta-touched pairs through the large-star/small-star rounds)
      ("cc_delta",
        graft.queries.ScaleQueries.queries("cc_delta"), false),
      // r11 batch 6: end-to-end ER (warm — deletion-neighborhood
      // equi-join + CC + two aggregates over the customer table)
      ("entity_resolution",
        graft.queries.AdvancedQueries.queries("entity_resolution"), false),
      // r11 batch 7: the governance lattice (warm — one customer scan
      // → |QI| cells; past the scan the rollups are cell-bounded),
      // median/MAD (warm — one events scan → |value domain| cells per
      // type, two cell cumulations), PMI collocations (warm — two
      // scan-stage hash aggregates to |vocab²|/|vocab| cells), the
      // token-budget fill (warm — scan-stage token counts + one
      // per-source window sort, the only row-bearing shuffle), and
      // the stream-maintained top-k (warm — per-batch count cells;
      // the stage split is session-cached, so best-of-2 times the
      // streaming execution)
      ("k_anonymity",
        graft.queries.AdvancedQueries.queries("k_anonymity"), false),
      ("mad_outliers",
        graft.queries.AdvancedQueries.queries("mad_outliers"), false),
      ("pmi_bigrams",
        graft.queries.TextQueries.queries("pmi_bigrams"), false),
      ("token_budget_mix",
        graft.queries.TextQueries.queries("token_budget_mix"), false),
      ("stream_topk",
        graft.queries.AdvancedQueries.queries("stream_topk"), false),
      // r11 batch 7 closer: the one-search tuning curve (warm — the
      // exact ground truth memoizes per (session, dir), so best-of-2
      // times the single max-probe search + the four cell-table
      // rankings; the exact baseline is ann_topk's priced join)
      ("ann_recall_curve",
        graft.queries.ScaleQueries.queries("ann_recall_curve"), false),
      // r11 batch 8: dedup accounting (warm — the CC closure over the
      // banded pair set + two |sources| rollups off one pinned
      // projection; exponent should track the pair volume like
      // cc_exact's), the quality planning curve (warm — one scan →
      // ≤10 cells), and the FK conformance sweep (warm — seven keyed
      // left joins folded to 1-row aggregates; exponent tracks the
      // largest child table's shuffle)
      ("dedup_impact",
        graft.queries.ScaleQueries.queries("dedup_impact"), false),
      // the CC-closure harness dedup_impact rides, probed alone so the
      // impact accounting's own cost (cells) is attributable
      ("dedup_canonical",
        graft.queries.ScaleQueries.queries("dedup_canonical"), false),
      ("quality_token_curve",
        graft.queries.TextQueries.queries("quality_token_curve"), false),
      ("ri_audit",
        graft.queries.AdvancedQueries.queries("ri_audit"), false),
      // r11 batch 9: CC maintenance on the PRODUCTION delta-pair
      // source (warm — stored state and the index probe memoize per
      // (session, dir), so best-of-2 times the maintained stage
      // itself: star edges + touched pairs -> one CC pass; this is
      // the measured answer to cc_delta's 0.97 harness-cost row)
      ("cc_delta_lsh",
        graft.queries.ScaleQueries.queries("cc_delta_lsh"), false),
      // r11 batch 10: the closers. embed_matryoshka is the exact
      // ground-truth harness (brute |Q|·n join, quadratic BY DESIGN —
      // the production first stage is the IVF family at truncated
      // dims; probed to document the harness cost honestly, like
      // ann_topk's). silhouette_gate: one n·√n argmax scan → cluster
      // cells. split_leakage_safe: the cc_exact closure + one label
      // join → strategy cells. stream_late: per-batch count cells
      // over the 4-file stage (session-cached split, so best-of-2
      // times the streaming run itself).
      ("embed_matryoshka",
        graft.queries.ScaleQueries.queries("embed_matryoshka"), false),
      ("silhouette_gate",
        graft.queries.ScaleQueries.queries("silhouette_gate"), false),
      ("split_leakage_safe",
        graft.queries.ScaleQueries.queries("split_leakage_safe"), false),
      ("stream_late",
        graft.queries.AdvancedQueries.queries("stream_late"), false),
      // r11 batch 11: MaxSim (warm — the exact late-interaction
      // harness, same priced |Q|·n join as embed_matryoshka with 16
      // sub-cosines per pair), the one-pass dedup threshold sweep
      // (warm — pair volume is the story, the cc_exact family), and
      // the curriculum key (warm — value-count offsets + keyed
      // windows; no corpus-sized global window by construction)
      ("maxsim_rank",
        graft.queries.ScaleQueries.queries("maxsim_rank"), false),
      ("dedup_threshold_curve",
        graft.queries.ScaleQueries.queries("dedup_threshold_curve"), false),
      ("curriculum_order",
        graft.queries.TextQueries.queries("curriculum_order"), false),
      // r11 batch 12: the index-layer manifest (warm — the maintained
      // index memoizes per dir and its BUILD is ann_ivf_delta's probe
      // row; best-of-2 times the manifest's own cost: one list-id
      // column scan → |lists| cells)
      ("ann_index_manifest",
        graft.queries.ScaleQueries.queries("ann_index_manifest"), false),
      // r11 batch 13: the closed tuning loop (warm — the exact ground
      // truth memoizes per (session, dir); best-of-2 times the single
      // max-probe search + the curve/pick/serve arithmetic over its
      // pinned candidate table), the streamed governance cells (warm —
      // stage split session-cached, |rules| cells per batch), and the
      // per-source percentile calibration (warm — keyed windows, never
      // a global sort)
      ("ann_autotune",
        graft.queries.ScaleQueries.queries("ann_autotune"), false),
      ("stream_dq",
        graft.queries.AdvancedQueries.queries("stream_dq"), false),
      ("quality_quantile_norm",
        graft.queries.TextQueries.queries("quality_quantile_norm"), false),
      // r11 batch 14: index-layer forget (cold — the memo builds the
      // full index AND runs the deletion; the forget loop's own cost
      // — assign forget ids, rewrite touched lists, remove emptied
      // dirs — is the story, O(|forget| + touched rows))
      ("ann_index_forget",
        graft.queries.ScaleQueries.queries("ann_index_forget"), true),
      // r11 batch 15: quality-aware canonical selection (warm — the
      // cc_exact closure + scan-stage quality + one keyed argmax
      // window; should track dedup_canonical's pair-volume exponent)
      // and split stability (warm — TWO closures + a doc_id join →
      // 1-row cells; ~2x the single-closure cost by construction)
      ("dedup_canonical_quality",
        graft.queries.ScaleQueries.queries("dedup_canonical_quality"),
        false),
      ("split_stability",
        graft.queries.ScaleQueries.queries("split_stability"), false),
      // r11 batch 16: the PLAID-style MaxSim path (warm — per-facet
      // codebook collects + m scan-stage argmaxes on one corpus scan,
      // equi candidate join, candidate-bounded 16-cosine re-rank,
      // PLUS the exact maxsim_rank harness it gates against — the
      // harness join dominates, so the exponent tracks maxsim_rank's)
      ("maxsim_ivf",
        graft.queries.ScaleQueries.queries("maxsim_ivf"), false),
      // r11 batch 17: forget on the SQ code index (cold — the memo
      // builds the full code index and runs the deletion; the loop is
      // ann_index_forget's, on code rows)
      ("ann_ivfsq_forget",
        graft.queries.ScaleQueries.queries("ann_ivfsq_forget"), true),
      // r11 batch 18: tokenizer drift (cold — BOTH trainings memoize
      // per dir; the word-dict collapse + per-merge pair aggregates
      // ARE the cost story, 2× bpe_merges' by construction)
      ("bpe_drift",
        graft.queries.TextQueries.queries("bpe_drift"), true),
      // r12 batch 1: the maintained-label rebase (all warm — the LSH
      // pair/label memos are built by the first sample; the second
      // times what the query now EXECUTES: bucket joins / the quality
      // argmax over memoized labels, never a closure)
      ("split_stability_v2",
        graft.queries.ScaleQueries.queries("split_stability"), false),
      ("split_leakage_safe_v2",
        graft.queries.ScaleQueries.queries("split_leakage_safe"), false),
      ("dedup_canonical_quality_v2",
        graft.queries.ScaleQueries.queries("dedup_canonical_quality"),
        false),
      // r12 batch 2: the truncated-dims IVF serving gate (warm — the
      // matryoshka exact-prefix harness memoizes per session and is
      // embed_matryoshka's priced cost; the second sample times the
      // two IVF serving passes + the gate joins) and the LSH-
      // prefiltered set-similarity rung (warm, nothing memoized —
      // banding + exact verification IS the cost story)
      ("ann_ivf_mrl",
        graft.queries.ScaleQueries.queries("ann_ivf_mrl"), false),
      ("ppjoin_lsh",
        graft.queries.ScaleQueries.queries("ppjoin_lsh"), false),
      // r12 batch 3: the per-source calibration map (warm — keyed
      // quantile windows, never a global sort; the one family VERDICT
      // r11 named probe-less) and the re-probed maintenance family
      // (cold — the memo now DERIVES its index instance from the
      // shared base via filter-copy instead of a second from-raw
      // build; the deletion/append loop is unchanged)
      ("quality_calibration",
        graft.queries.TextQueries.queries("quality_calibration"), false),
      ("ann_index_forget_v2",
        graft.queries.ScaleQueries.queries("ann_index_forget"), true),
      ("ann_ivfsq_delta_v2",
        graft.queries.ScaleQueries.queries("ann_ivfsq_delta"), true),
      ("maxsim_ivf_v2",
        graft.queries.ScaleQueries.queries("maxsim_ivf"), false),
      // r12 batch 4: the MRL adaptive-retrieval funnel (warm — the
      // exact full-dim baseline memoizes per session; the second
      // sample times stage 1's 16-d IVF serve + the |Q|×32 re-rank
      // join + the recall cells) and the two stream shapes re-probed
      // at their new 3-batch contract (warm — the split stage is
      // session-cached; per-batch state is cells, so the third batch
      // should cost one spin-up, not a scan)
      ("ann_mrl_funnel",
        graft.queries.ScaleQueries.queries("ann_mrl_funnel"), false),
      ("stream_topk_3b",
        graft.queries.AdvancedQueries.queries("stream_topk"), false),
      ("stream_dq_3b",
        graft.queries.AdvancedQueries.queries("stream_dq"), false),
      // r12 batch 5: forget on the PQ code index (cold — the memo
      // trains the PQ codebooks + builds the base code index, then
      // derives the forget instance and runs the deletion loop)
      ("ann_ivfpq_forget",
        graft.queries.ScaleQueries.queries("ann_ivfpq_forget"), true),
      // r12 batch 6: the MaxSim coverage-recall curve (warm — one
      // max-budget candidate generation + one pinned MaxSim scoring
      // pass; every curve point is a window over the nested subset;
      // the exact harness is maxsim_rank's priced join)
      ("maxsim_budget_curve",
        graft.queries.ScaleQueries.queries("maxsim_budget_curve"),
        false),
      // r12 batch 7: provenance-preserving dedup (warm — one
      // cluster-keyed rollup over the maintained label memo),
      // filtered vector search (warm — the label rides the candidate
      // equi-join; the gate's exact side memoizes per session), and
      // the data-parallel gradient certificate (warm — one full-batch
      // step + two groupings of the same integer cells)
      ("dedup_provenance",
        graft.queries.ScaleQueries.queries("dedup_provenance"), false),
      ("ann_filtered_recall",
        graft.queries.ScaleQueries.queries("ann_filtered_recall"),
        false),
      ("grad_accum_equiv",
        graft.queries.TextQueries.queries("grad_accum_equiv"), false),
      // r12 batch 8: the label-partitioned filtered index (cold — the
      // memo builds the labeled layout; the served search reads only
      // the query label's probed partitions)
      ("ann_filtered_indexed",
        graft.queries.ScaleQueries.queries("ann_filtered_indexed"),
        true),
      // r12 batch 9: label maintenance under deletion (warm — the
      // pair/label memos are stored state; the probe times the
      // affected-component re-closure itself)
      ("cc_forget",
        graft.queries.ScaleQueries.queries("cc_forget"), false),
      // r12 batch 10: fleet filtered serving over the labeled index
      // (warm — the labeled layout memoizes; the probe times the one
      // scan + (label, list) join + re-rank for the whole fleet)
      ("ann_filtered_batch",
        graft.queries.ScaleQueries.queries("ann_filtered_batch"),
        false),
      // r13 batch 1: the clustered-corpus serving certifications
      // (warm — the planted corpus and its exact ground truths
      // memoize per session; the second sample times the nlist/8
      // serving chain + the recall cells — the small-fraction regime
      // the 100 TB story relies on, now measured not adjudicated)
      ("ann_ivf_clustered",
        graft.queries.ScaleQueries.queries("ann_ivf_clustered"), false),
      ("maxsim_ivf_clustered",
        graft.queries.ScaleQueries.queries("maxsim_ivf_clustered"),
        false),
      // r13 batch 2: the stored-state rebases (all warm — the exact
      // pair set / base labels / maintained LSH labels memoize; the
      // probe times what each query now EXECUTES: cc_delta's star ∪
      // delta-pairs → one CC pass, the dedup pair's anti-join +
      // rollups — the r12 VERDICT's 0.97/0.78/0.77 exponents were
      // harness regeneration, now retired)
      ("cc_delta_v2",
        graft.queries.ScaleQueries.queries("cc_delta"), false),
      ("dedup_canonical_v2",
        graft.queries.ScaleQueries.queries("dedup_canonical"), false),
      ("dedup_impact_v2",
        graft.queries.ScaleQueries.queries("dedup_impact"), false),
      // r13 batch 3: the filtered family under the occupancy-aware
      // budget + the compacted (label, list_grp) layout (indexed:
      // cold — the memo builds the labeled layout; batch/recall:
      // warm) and the labeled forget (cold — the memo derives the
      // instance by filter-copy and runs the (label, group)-scoped
      // deletion loop, which IS the cost story)
      ("ann_filtered_recall_v2",
        graft.queries.ScaleQueries.queries("ann_filtered_recall"),
        false),
      ("ann_filtered_indexed_v2",
        graft.queries.ScaleQueries.queries("ann_filtered_indexed"),
        true),
      ("ann_filtered_batch_v2",
        graft.queries.ScaleQueries.queries("ann_filtered_batch"),
        false),
      ("ann_filtered_forget",
        graft.queries.ScaleQueries.queries("ann_filtered_forget"),
        true),
      // r13 batch 4: the labeled delta append (cold — the memo
      // derives the 6/7 base by filter-copy and appends the 1/7 under
      // the shared codebook; the touched-(label, group) merge loop is
      // the cost story), the filtered budget-collapse certification
      // (warm — planted corpus + exact memoize; the second sample
      // times the nlist/8 filtered serve), and warm-start PR
      // maintenance re-probed after its stored-state rebase (warm —
      // old ranks and the 6-round reference memoize; the probe times
      // warm+cold single iterations + two L1 cells, retiring the 11
      // regenerated rounds)
      ("ann_filtered_delta",
        graft.queries.ScaleQueries.queries("ann_filtered_delta"),
        true),
      ("ann_filtered_clustered",
        graft.queries.ScaleQueries.queries("ann_filtered_clustered"),
        false),
      ("pagerank_delta_v2",
        graft.queries.AdvancedQueries.queries("pagerank_delta"),
        false))
    // Session-residue hygiene: `Dedup.materialize` is an eager
    // localCheckpoint, and its executor blocks are reclaimed by
    // ContextCleaner only after a DRIVER GC notices the dropped
    // references. Without a quiesce, the first timed run after the
    // 8-target warm-up loop pays the previous residue's eviction and
    // async-cleanup inline (measured: dedup_minhash 10x 16.4 s first
    // run vs 5.5 s second in one session — and a probe run where BOTH
    // samples absorbed it reported exponent 0.80 for an operator that
    // measures 0.40 clean). GC twice with a settle so the cleaner's
    // queue drains before the clock starts.
    def quiesce(): Unit =
      (1 to 2).foreach { _ => System.gc(); Thread.sleep(250) }
    def timeOnce(fn: => Long): Double = {
      quiesce()
      val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
    }
    def bestOf2(fn: => Long): Double = math.min(timeOnce(fn), timeOnce(fn))
    // Untimed JIT/codegen warm-up on a THIRD dir (sf0.01): without it
    // the first timed run per family pays one-time compilation that the
    // 10x run then skips, which can push a fixed-cost-dominated target
    // to a NEGATIVE apparent exponent (observed: quality_train sf0.1
    // 1.53 s cold-JVM vs 1.17 s at 10x warm). Warming on sf0.01 leaves
    // the memo caches for BOTH timed dirs untouched (memos key on the
    // dir fingerprint), so cold-tracked targets still time their
    // training pass, just not the JVM's.
    // a failed warm-up silently reintroduces the cold-JVM skew the
    // warm-up exists to remove, so the failure count rides in every
    // emitted JSON line (warm_failed>0 = exponents suspect), not just
    // on stderr
    // optional comma-separated subset for targeted probe runs (full
    // run when unset — the SCALE.md table refresh mode)
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY").map(_.split(",").toSet)
    val picked = targets.filter { case (n, _, _) => only.forall(_.contains(n)) }
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.01")
    var warmFailed = 0
    for ((name, fn, _) <- picked)
      try fn(spark, warmDir).count()
      catch { case e: Throwable =>
        warmFailed += 1
        System.err.println(s"[scale-probe] warm-up $name failed " +
          s"(cold-JVM skew NOT removed): ${e.getMessage}")
      }
    val dirs = Seq("sf0.1" -> "/root/testdata/sf0.1", s"sf${factor}x" -> outDir)
    val rows = for ((name, fn, cold) <- picked) yield {
      val ts = dirs.map { case (label, d) =>
        label -> (if (cold) timeOnce(fn(spark, d).count())
                  else bestOf2(fn(spark, d).count()))
      }
      val t0 = ts.head._2; val t1 = ts.last._2
      val exponent = math.log(t1 / t0) / math.log(factor.toDouble)
      println(f"""{"probe":"$name","t_sf01_s":$t0%.3f,"t_${factor}x_s":$t1%.3f,"exponent":$exponent%.3f,"warm_failed":$warmFailed}""")
      (name, t0, t1, exponent)
    }
    println(rows.map { case (n, a, b, e) => f"$n: $a%.2fs -> $b%.2fs exp=$e%.2f" }
      .mkString("[scale-probe] ", " | ", ""))
    // r11: the streaming family's bench FLOOR — per-query fixed cost
    // of StreamingQuery spin-up + checkpoint setup + AvailableNow
    // termination, measured on a FIXED 2-file, 128-row micro-input so
    // nothing data-dependent rides the clock. Every stream_* query
    // stages exactly 2 files (the multi-batch contract's minimum), so
    // the family's bench total can't drop below ~16 × this number;
    // SCALE.md records the split into fixed vs marginal cost.
    if (only.isEmpty || only.exists(_.contains("stream_noop"))) {
      import graft.streaming.IncrementalStream
      val tiny = spark.range(0, 128)
        .select(col("id"), (col("id") % 7).as("k"))
      graft.TempDirs.using("graft_stream_noop") { dir =>
        val stage = IncrementalStream.stageSlices(
          (0 until 2).map(i => tiny.filter(col("id") % 2 === i)), dir)
        // the same runner (checkpoint manager, trigger, batch check,
        // cleanup) every stream_* query pays
        def noopStream(): Long = {
          IncrementalStream.runForeachBatch("stream_noop",
              IncrementalStream.readAppendStream(spark, stage.toString,
                tiny.schema, maxFilesPerTrigger = Some(1)),
              minBatches = 2) { (b, _) => b.count(); () }
          0L
        }
        noopStream() // JIT/codegen warm-up, untimed
        val tNoop = (1 to 3).map(_ => timeOnce(noopStream())).min
        println(f"""{"probe":"stream_noop_spinup","t_s":$tNoop%.3f,"batches":2,"warm_failed":$warmFailed}""")
      }
    }
    // r13: the labeled layout at 10× LABELS — the small-files cliff
    // the (label, list_grp) compaction exists for (VERDICT r12 task
    // 4's done-criterion). Over the 10x embeddings slice the label
    // column is re-derived at |labels| ∈ {10, 100}; per width the
    // probe times the labeled build, counts the leaf parquet files
    // (the capped quantity: ≤ |labels| × ⌈√nlist⌉, vs |labels| ×
    // nlist pre-compaction), and times the served fleet (every-20th
    // vector, filteredNprobe budget).
    if (only.isEmpty || only.exists(_.contains("labels_layout"))) {
      import graft.ops.Similarity
      val emb10 = spark.read.parquet(s"$outDir/embeddings.parquet")
      val stride = Similarity.sqrtStride(emb10.count())
      val cb = Similarity.sampledCodebook(emb10, "vec_id", "embedding",
        stride)
      def leafFiles(dir: String): Int = {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1 else 0
        walk(new java.io.File(dir))
      }
      for (nLabels <- Seq(10, 100)) {
        // deterministic relabel: the shuffle-key mix over vec_id,
        // folded to |labels| buckets (uniform, reproducible)
        val relabeled = emb10.select(col("vec_id"), col("embedding"),
          pmod(graft.functions.dsl.shuffle_key(col("vec_id"), 5L),
            lit(nLabels.toLong)).as("label"))
        graft.TempDirs.using(s"graft_labels_$nLabels") { dirPath =>
          val dir = dirPath.toString
          val tBuild = timeOnce {
            Similarity.ivfIndexWrite(graft.ops.Dedup.spread(relabeled),
              "vec_id", "embedding", dir, cb, Similarity.ListCodec.Flat,
              Similarity.ListLayout.ByLabelGroup); 0L
          }
          val files = leafFiles(dir)
          val fleet = relabeled.filter(col("vec_id") % 20 === 0)
            .select(col("vec_id").as("qid"), col("label").as("qlabel"),
              col("embedding").cast("array<float>").as("qv"))
          val tFleet = bestOf2(
            Similarity.ivfIndexedBatchSearchLabeled(spark, dir, cb,
              fleet, Similarity.filteredNprobe(cb.length), 3).count())
          println(f"""{"probe":"labels_layout","n_labels":$nLabels,"nlist":${cb.length},"leaf_files":$files,"t_build_s":$tBuild%.3f,"t_fleet_s":$tFleet%.3f,"warm_failed":$warmFailed}""")
        }
      }
    }
    spark.stop()
  }
}
