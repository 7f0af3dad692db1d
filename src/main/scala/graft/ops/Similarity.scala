package graft.ops

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

import graft.functions.dsl._

/** Embedding-similarity operators complementing the ANN queries in
  * [[graft.queries.ScaleQueries]]: exact windowed near-dup pairs (the
  * oracle-checkable form) and fingerprint-collision joins.
  */
object Similarity {

  /** Exact embedding-cosine near-duplicate pairs over an id window
    * (id_b − id_a ≤ `window`) — same block-bucketed equi-join shape as
    * [[Dedup.ngramJaccardPairs]], so no O(n²) nested loop. The
    * unbounded scale path is SRP-LSH bucketing (annLsh); this windowed
    * variant exists for exact SQL-checkable semantics.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            window: Long, threshold: Double): DataFrame = {
    val base = Dedup.spread(df.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("block", floor(col("id") / window))
    val left = base.select(col("id").as("id_a"), col("v").as("v_a"),
      explode(array(col("block"), col("block") + 1)).as("jblock_a"))
    val right = base.select(col("id").as("id_b"), col("v").as("v_b"),
      col("block").as("jblock_b"))
    left.join(right,
        col("jblock_a") === col("jblock_b") &&
          col("id_b") > col("id_a") && col("id_b") <= col("id_a") + window)
      .withColumn("sim", cosine_sim(col("v_a"), col("v_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim_r"))
  }

  /** Documents sharing at least `minShared` winnowing fingerprints —
    * the collision join a fingerprint index exists for. Shuffle
    * carries (fp, id) pairs; hot fingerprints (boilerplate) are the
    * AQE-skew / salting case.
    */
  /** IVF-style approximate nearest neighbors: a deterministic coarse
    * quantizer (every `centroidEvery`-th vector serves as a centroid —
    * a training-free stand-in for k-means that keeps the pipeline
    * deterministic, capped at `maxCentroids`), inverted lists built by
    * assigning each corpus vector to its nearest centroid, and queries
    * probing the `nprobe` nearest lists.
    *
    * Scale shape: the codebook is collected once via a distributed
    * top-`maxCentroids` (bounded — this is the "train the quantizer"
    * step every IVF index has; a codebook is small BY DESIGN, e.g.
    * 2^12..2^16 entries, never corpus-proportional) and embedded as a
    * literal, so list assignment is a scan-stage argmax
    * ([[graft.functions.Kernels.nearestCentroids]]) with ZERO shuffle
    * between the corpus scan and its list id — previously this was a
    * corpus×centroids broadcast join + row_number window, i.e. a full
    * shuffle+sort of n×|codebook| rows. The probe join is an equi-join
    * on list id, so per query only `nprobe` lists are re-ranked.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: Column, k: Int, centroidEvery: Int = 97,
              nprobe: Int = 3, maxCentroids: Int = 1 << 14): DataFrame = {
    val codebook = sampledCodebook(emb, idCol, vecCol, centroidEvery,
      maxCentroids)
    ivfTopKWithCodebook(emb, idCol, vecCol, queryPred, k, nprobe, codebook)
  }

  /** Deterministic every-`stride`-th sampled coarse quantizer — the
    * training-free codebook every IVF shape here shares. Distributed
    * TakeOrdered: the driver receives at most `maxCentroids`
    * (id, vector) rows regardless of corpus size.
    */
  def sampledCodebook(emb: DataFrame, idCol: String, vecCol: String,
                      stride: Int, maxCentroids: Int = 1 << 14)
      : Array[(Long, Seq[Float])] =
    emb.filter(col(idCol) % stride === 0)
      .select(col(idCol).cast("long").as("centroid_id"),
        col(vecCol).cast("array<float>").as("centroid_v"))
      .orderBy(col("centroid_id")).limit(maxCentroids)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))

  /** Sampling stride that makes nlist track √n (the Faiss sizing
    * guideline: nlist ≈ 4·√n): stride = max(1, ⌊√n / 4⌋), so
    * n/stride ≈ 4√n lists and the build-time assignment argmax costs
    * O(n·√n·d) instead of the O(n²·d) a FIXED stride degenerates to
    * (nlist ∝ n — the one >0.5 exponent in the r10 SCALE.md table).
    * Derived from a COUNT, never a sample, so the rule is
    * deterministic and replays in the DuckDB oracle as
    * `GREATEST(1, CAST(floor(sqrt(count(*)) / 4) AS BIGINT))` —
    * identical IEEE sqrt/floor on both engines.
    */
  def sqrtStride(n: Long): Int =
    math.max(1L, math.floor(math.sqrt(n.toDouble) / 4.0).toLong).toInt

  /** Probe budget tracking the list count (the `ann_ivf` scaladoc
    * rule that a FIXED nprobe collapses as nlist grows): probe
    * max(7, nlist/8) lists — a roughly constant list fraction with
    * the small-index floor the test SFs need. Integer division on a
    * non-negative count, so DuckDB's `count(*) // 8` replays it.
    */
  def derivedNprobe(nlist: Int): Int = math.max(7, nlist / 8)

  /** Probe budget for a corpus with NO usable cluster structure —
    * the honest knob the recall measurements force on the synthetic
    * test embeddings (uniform-on-sphere gaussians, TESTDATA.md):
    * measured top-3 recall at sf0.1 under the √n-stride quantizer
    * tracks raw list-COVERAGE almost linearly (nlist/8 → 0.64,
    * nlist/4 → 0.81, nlist/3 → 0.88, nlist/2 → 0.96 on the MaxSim
    * facet route), because unclustered neighbors spread uniformly
    * across lists — no budget below a large constant fraction can
    * recall them. Half the lists is the smallest measured budget
    * clearing a 0.9 target. On a REAL clustered corpus (the case IVF
    * exists for) [[derivedNprobe]]'s constant-eighth is the budget;
    * callers pick by what their recall gate measures.
    */
  def halfNprobe(nlist: Int): Int = math.max(7, (nlist + 1) / 2)

  /** Probe budget for a FILTERED search on the unclustered corpus —
    * the occupancy-aware escalation of [[halfNprobe]]: a selective
    * label filter thins every probed list by the selectivity (10-way
    * labels ⇒ post-filter occupancy |matching|/nlist ≈ 0.5–1 rows per
    * list at the test SFs, vs 5–11 unfiltered), and once a list holds
    * ≲1 matching row the probe-rank ordering decouples from where the
    * filtered true neighbors sit — coverage must rise to compensate.
    * Measured filtered top-3 recall under the √n-stride quantizer at
    * sf0.001/0.01/0.1: nlist/2 → 0.79/0.89/0.88, 5·nlist/8 →
    * 0.85/0.91/0.91, 3·nlist/4 → 0.95/0.95/0.95 (r13 curve) — three
    * quarters is the smallest measured budget clearing 0.9 at every
    * SF, the same smallest-budget-over-the-target discipline that
    * fixed halfNprobe. Ceil division on a non-negative count, so
    * DuckDB's `(count(*) * 3 + 3) // 4` replays it. On a clustered
    * corpus the filtered budget collapses with the unfiltered one
    * toward [[derivedNprobe]] (ann_ivf_clustered's certification);
    * at high selectivity the layout answer is label-partitioned
    * lists (`ann_filtered_indexed`), which make the filter free at
    * read time — this knob prices the in-plan operator honestly.
    */
  def filteredNprobe(nlist: Int): Int = math.max(7, (3 * nlist + 3) / 4)

  /** [[ivfTopK]] with the coarse quantizer supplied by the caller —
    * the production shape, where the codebook comes from a TRAINED
    * k-means (Faiss-style IVF) rather than a data sample. Same
    * zero-shuffle list assignment: the codebook is embedded as plan
    * literals and `nearest_centroids` runs in the scan stage.
    */
  def ivfTopKWithCodebook(emb: DataFrame, idCol: String, vecCol: String,
                          queryPred: Column, k: Int, nprobe: Int,
                          codebook: Array[(Long, Seq[Float])]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centsLit = typedLit(codebook.map(_._2).toSeq)
    val idsLit = typedLit(codebook.map(_._1).toSeq)
    def nearest(v: Column, n: Int): Column =
      nearest_centroids(v, centsLit, idsLit, n)

    val lists = Dedup.spread(
        emb.select(col(idCol).as("cid"), col(vecCol).as("cv")))
      .withColumn("centroid_id", try_element_at(nearest(col("cv"), 1), lit(1)))
    val probes = emb.filter(queryPred)
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("centroid_id", explode(nearest(col("qv"), nprobe)))

    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim_r").desc, col("cid"))
    // spreadBy(qid): satisfies the ranking window's distribution with
    // a non-AQE-coalescible exchange — the candidate scoring+ranking
    // stage otherwise lands on the 1-2 tasks byte-based coalescing
    // allots the small candidate rows (measured 0.6 s / 2 tasks,
    // cpu-bound, in ann_autotune)
    Dedup.spreadBy(
        lists.join(Hints.maybeBroadcast(probes), Seq("centroid_id"))
          .filter(col("qid") =!= col("cid")), col("qid"))
      .withColumn("sim_r", round(cosine_sim(col("qv"), col("cv")), 4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("sim_r"), col("rnk"))
  }

  /** ONE max-probe search serving a whole recall-vs-nprobe tuning
    * curve: the probe explode runs at `nprobeMax` and every candidate
    * retains its FIRST-PROBE rank (the smallest probe rank of any
    * probed list containing it), so the candidate set at any
    * nprobe ≤ nprobeMax is exactly the `first_probe <= nprobe`
    * subset. The sweep an index-tuning session runs (recall@k per
    * probe budget) therefore costs ONE corpus assignment + ONE probe
    * join; ranking per curve point is a window over the already-tiny
    * candidate table. Same zero-shuffle scan-stage assignment as
    * [[ivfTopKWithCodebook]].
    */
  def ivfProbeCandidates(emb: DataFrame, idCol: String, vecCol: String,
                         queryPred: Column, nprobeMax: Int,
                         codebook: Array[(Long, Seq[Float])]): DataFrame = {
    val centsLit = typedLit(codebook.map(_._2).toSeq)
    val idsLit = typedLit(codebook.map(_._1).toSeq)
    def nearest(v: Column, n: Int): Column =
      nearest_centroids(v, centsLit, idsLit, n)
    val lists = Dedup.spread(
        emb.select(col(idCol).as("cid"), col(vecCol).as("cv")))
      .withColumn("centroid_id",
        try_element_at(nearest(col("cv"), 1), lit(1)))
    val probes = emb.filter(queryPred)
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .select(col("qid"), col("qv"),
        posexplode(nearest(col("qv"), nprobeMax))
          .as(Seq("p0", "centroid_id")))
      .withColumn("probe_rank", (col("p0") + 1).cast("int"))
      .drop("p0")
    lists.join(Hints.maybeBroadcast(probes), Seq("centroid_id"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim_r", round(cosine_sim(col("qv"), col("cv")), 4))
      // duplicate (qid, cid) via multiple probed lists collapse to the
      // earliest probe; sim_r is identical across duplicates
      .groupBy(col("qid"), col("cid"))
      .agg(min(col("probe_rank")).as("first_probe"),
        max(col("sim_r")).as("sim_r"))
  }

  /** PERSIST an IVF index as a partitioned table: (cid, cv) rows
    * written under `indexDir` partitioned BY LIST ID, so a search
    * that probes `nprobe` lists reads exactly `nprobe` directory
    * partitions — partition PRUNING at the storage layer, the
    * mechanism that makes a disk-resident ANN index sublinear (the
    * in-plan equi-join variant is [[ivfTopK]]; this is the
    * index-build-once / search-many shape a serving tier uses).
    * Returns the sampled codebook the searches must share.
    *
    * `centroidEvery` ≤ 0 (the default) derives the stride from a
    * cheap corpus COUNT via [[sqrtStride]], so nlist tracks 4·√n and
    * the build stays O(n^1.5) — a fixed stride makes nlist ∝ n and
    * the build quadratic.
    */
  def ivfIndexWrite(emb: DataFrame, idCol: String, vecCol: String,
                    indexDir: String, centroidEvery: Int = 0,
                    maxCentroids: Int = 1 << 14)
      : Array[(Long, Seq[Float])] = {
    val stride =
      if (centroidEvery > 0) centroidEvery else sqrtStride(emb.count())
    val codebook = sampledCodebook(emb, idCol, vecCol, stride, maxCentroids)
    ivfIndexWriteWithCodebook(emb, idCol, vecCol, indexDir, codebook)
    codebook
  }

  /** [[ivfIndexWrite]] with a caller-supplied coarse quantizer — the
    * shape index MAINTENANCE needs: base build and every later delta
    * batch must assign under the SAME codebook or list membership
    * drifts between the stored lists and the probe computation.
    */
  def ivfIndexWriteWithCodebook(emb: DataFrame, idCol: String,
                                vecCol: String, indexDir: String,
                                codebook: Array[(Long, Seq[Float])])
      : Unit = {
    val centsLit = typedLit(codebook.map(_._2).toSeq)
    val idsLit = typedLit(codebook.map(_._1).toSeq)
    // repartition BY LIST between assignment and the partitioned
    // write: without it every writer task holds rows of ~every list
    // and the job creates O(tasks × nlist) tiny files — at nlist ≈
    // 4√n that file-open/footer overhead dominated the whole build
    // (measured 10×: 212 s → 9 s for the ann_ivf_delta double build).
    // One shuffle keyed on the list id makes each list one file, the
    // layout the nprobe-pruned reads want anyway. A pathologically
    // hot list (skewed corpus) would serialize into one task — the
    // salting escalation (repartition on (list, salt)) is the knob,
    // deliberately not paid here.
    Dedup.spread(emb.select(col(idCol).cast("long").as("cid"),
        col(vecCol).cast("array<float>").as("cv")))
      .withColumn("centroid_id", try_element_at(
        nearest_centroids(col("cv"), centsLit, idsLit, 1), lit(1)))
      // a zero-norm vector has NaN cosine to every centroid → null
      // assignment; without this filter it would persist under the
      // default-partition dir where [[ivfIndexForget]]'s same-skip
      // could never delete it (a silent right-to-be-forgotten gap) —
      // un-assignable vectors are not index residents, by contract
      .filter(col("centroid_id").isNotNull)
      .repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(indexDir)
  }

  /** DERIVE a persisted index from an EXISTING one by restricting its
    * stored rows — the cheap way to stand up a second index instance
    * over the same corpus (a forget/delta test bed, a tenant subset,
    * a staging copy): list membership depends only on (vector,
    * codebook), so filtering the stored rows of an index produces
    * bit-identical content to re-encoding + re-assigning the same
    * subset from raw vectors, WITHOUT paying the assignment argmax
    * (O(n·nlist·d)) or any encode again. One pass over the stored
    * rows (codes or vectors — layout-agnostic: whatever columns the
    * list rows hold are carried), repartitioned by list id so the
    * derived index keeps the one-file-per-list layout. At 100 TB this
    * is the difference between a parquet filter-copy and a full
    * index rebuild.
    */
  def ivfIndexDerive(spark: org.apache.spark.sql.SparkSession,
                     srcDir: String, dstDir: String,
                     keep: Column): Unit =
    spark.read.parquet(srcDir)
      .filter(keep)
      .repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(dstDir)

  /** APPEND a delta batch to a persisted [[ivfIndexWrite]] index and
    * COMPACT the touched lists in one motion — the maintenance loop a
    * serving tier runs nightly instead of rebuilding from history
    * (the `minhash_incremental` incremental-index precedent at the
    * storage layer). Delta vectors are assigned under the SHARED
    * codebook (scan-stage argmax, zero shuffle), then each touched
    * list is rewritten as existing-rows ∪ delta — untouched lists'
    * files are never read or rewritten, so the cost is O(|delta| +
    * rows in touched lists), independent of index size. Merge
    * consistency — search(base ∪ Δ) ≡ search(rebuilt-from-everything)
    * — is what `ann_ivf_delta` hash-checks: assignment depends only
    * on (vector, codebook), so WHEN a row arrived cannot change WHERE
    * it lives.
    *
    * CRASH CONSISTENCY (stage → publish → clean): the merged lists
    * are first written to `stagingDir` — RELIABLE storage, not
    * executor-local checkpoint blocks, which an executor loss during
    * the overwrite would drop while the only durable copy of the
    * touched lists is already half-replaced — and only then published
    * into the index by [[ivfIndexPublishStaged]] (dynamic partition
    * overwrite reading the staging dir, never the index). A crash
    * before publish leaves the index bit-identical to the old state;
    * a crash DURING publish can leave a touched list old, merged, or
    * momentarily absent (Spark's dynamic-overwrite commit deletes a
    * partition dir before renaming its replacement in), but the
    * staged copy survives, and because publish is IDEMPOTENT —
    * re-running it rewrites exactly the staged lists — recovery is
    * "re-run [[ivfIndexPublishStaged]] until it succeeds, then delete
    * the staging dir". The staging dir is deleted ONLY after a
    * successful publish; `IvfIndexSpec` injects both crash windows
    * and pins old-state equality / recovery-to-rebuild equality.
    */
  def ivfIndexAppendDelta(spark: org.apache.spark.sql.SparkSession,
                          indexDir: String,
                          codebook: Array[(Long, Seq[Float])],
                          delta: DataFrame, idCol: String,
                          vecCol: String,
                          stagingDirOpt: Option[String] = None): Unit = {
    val staging = stagingDirOpt.getOrElse(
      indexDir.stripSuffix("/") + ".staging")
    val touched = ivfIndexStageDelta(spark, indexDir, staging, codebook,
      delta, idCol, vecCol)
    // an empty delta stages nothing: return before the publish (an
    // empty staged frame would also rewrite zero lists, but making
    // the no-op explicit keeps the index bit-untouched)
    if (touched.isEmpty) return
    ivfIndexPublishStaged(spark, indexDir, staging)
    deleteDir(spark, staging) // only after a successful publish
  }

  /** Stage half of the maintenance loop: write the MERGED form
    * (existing rows ∪ assigned delta) of every list the delta touches
    * to `stagingDir` as a durable parquet table partitioned by list
    * id. The index itself is only READ — a crash anywhere in here
    * leaves it bit-identical to the old state. Returns the touched
    * list ids (empty ⇒ nothing staged).
    */
  def ivfIndexStageDelta(spark: org.apache.spark.sql.SparkSession,
                         indexDir: String, stagingDir: String,
                         codebook: Array[(Long, Seq[Float])],
                         delta: DataFrame, idCol: String,
                         vecCol: String): Array[Long] = {
    val centsLit = typedLit(codebook.map(_._2).toSeq)
    val idsLit = typedLit(codebook.map(_._1).toSeq)
    val assigned = delta
      .select(col(idCol).cast("long").as("cid"),
        col(vecCol).cast("array<float>").as("cv"))
      .withColumn("centroid_id", try_element_at(
        nearest_centroids(col("cv"), centsLit, idsLit, 1), lit(1)))
    // bounded collect: one id per touched list, ≤ |codebook| by design
    val touched = assigned.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0))
    if (touched.isEmpty) return touched
    spark.read.parquet(indexDir)
      .filter(col("centroid_id").isin(touched: _*))
      .unionByName(assigned)
      .repartition(col("centroid_id"))
      .write.mode("overwrite")
      .partitionBy("centroid_id").parquet(stagingDir)
    touched
  }

  /** FORGET rows from a persisted [[ivfIndexWrite]] index — the
    * right-to-be-forgotten path at the index layer (the table-layer
    * twin is the forget-user operator): the ids to delete are
    * assigned under the SHARED codebook (scan-stage argmax — WHERE a
    * row lives depends only on (vector, codebook), so the touched
    * lists are knowable without scanning the index), each touched
    * list is rewritten as existing-rows ANTI-JOIN forget-ids through
    * the same durable-staging → idempotent-publish crash contract as
    * [[ivfIndexAppendDelta]], and lists left EMPTY by the deletion —
    * which dynamic partition overwrite cannot express (no staged rows
    * ⇒ the partition is never rewritten) — have their directories
    * deleted explicitly AFTER the publish. Cost O(|forget| + rows in
    * touched lists); untouched lists' files never read or rewritten.
    *
    * Recovery: re-run until success — staging is durable, publish is
    * idempotent, and the empty-list deletes are idempotent (deleting
    * a missing dir is a no-op). The coarse quantizer itself retains
    * any sampled vector VALUES it was fit on; refreshing the
    * quantizer is a rebuild-time decision (re-keying every list), not
    * a per-delete one — documented so the privacy boundary is
    * explicit.
    */
  def ivfIndexForget(spark: org.apache.spark.sql.SparkSession,
                     indexDir: String,
                     codebook: Array[(Long, Seq[Float])],
                     forget: DataFrame, idCol: String, vecCol: String,
                     stagingDirOpt: Option[String] = None): Unit = {
    val centsLit = typedLit(codebook.map(_._2).toSeq)
    val idsLit = typedLit(codebook.map(_._1).toSeq)
    val assigned = forget
      .select(col(idCol).cast("long").as("cid"),
        col(vecCol).cast("array<float>").as("cv"))
      .withColumn("centroid_id", try_element_at(
        nearest_centroids(col("cv"), centsLit, idsLit, 1), lit(1)))
      // a zero-norm forget vector yields NaN cosines everywhere →
      // null centroid_id; such a vector was never written to any list
      // (every index write path filters null assignments), so it
      // touches nothing
      .filter(col("centroid_id").isNotNull && col("cid").isNotNull)
    // the ONLY driver collect: one id per touched list, ≤ |codebook|
    // by design. The forget ids themselves stay distributed — the
    // batch is corpus-proportional in the worst case, so an inlined
    // In-list would be a driver-memory / expression-size hazard, and
    // the anti-join below broadcasts the id set only while its
    // ESTIMATE fits the bound (maybeBroadcast) — a corpus-sized
    // forget batch falls back to a shuffled left_anti join.
    val touched = assigned.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0))
    if (touched.isEmpty) return
    val staging = stagingDirOpt.getOrElse(
      indexDir.stripSuffix("/") + ".staging")
    val survivors = spark.read.parquet(indexDir)
      .filter(col("centroid_id").isin(touched: _*))
      .join(Hints.maybeBroadcast(assigned.select(col("cid"))),
        Seq("cid"), "left_anti")
    if (survivors.isEmpty) {
      // every touched list emptied: nothing to stage or publish —
      // the deletion IS the directory removal
      touched.foreach { listId =>
        deleteDir(spark,
          indexDir.stripSuffix("/") + s"/centroid_id=$listId")
      }
      return
    }
    survivors
      .repartition(col("centroid_id"))
      .write.mode("overwrite")
      .partitionBy("centroid_id").parquet(staging)
    // lists the deletion emptied: present in `touched`, absent from
    // the staged survivors — their partition dirs must go explicitly
    val survivedLists = spark.read.parquet(staging)
      .select(col("centroid_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    ivfIndexPublishStaged(spark, indexDir, staging)
    touched.filterNot(survivedLists).foreach { listId =>
      deleteDir(spark,
        indexDir.stripSuffix("/") + s"/centroid_id=$listId")
    }
    deleteDir(spark, staging) // only after a successful publish
  }

  /** Publish half of the maintenance loop: dynamic partition
    * overwrite of the staged lists into the index, reading ONLY the
    * staging dir (the index is never both read and overwritten in
    * one job). IDEMPOTENT — the staged table already holds each
    * touched list's complete merged content, so re-running after any
    * partial failure converges to the same final index; see
    * [[ivfIndexAppendDelta]] for the recovery contract.
    */
  def ivfIndexPublishStaged(spark: org.apache.spark.sql.SparkSession,
                            indexDir: String, stagingDir: String): Unit =
    spark.read.parquet(stagingDir)
      .repartition(col("centroid_id"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("centroid_id").parquet(indexDir)

  private def deleteDir(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Single-query search over a persisted [[ivfIndexWrite]] index:
    * the query's `nprobe` list ids are computed from the shared
    * codebook (driver-side, k·d floats), inlined as an IN filter, and
    * the scan therefore reads ONLY those list partitions —
    * `PartitionFilters` in the plan, pinned by PlanSpec. Exact cosine
    * re-rank of the probed lists to top-`k`.
    */
  /** Files per label in the labeled index layout: ⌈√nlist⌉ list
    * GROUPS, each holding ~√nlist consecutive-rank lists in one file —
    * the r13 compaction of the one-dir-per-(label, list) layout whose
    * |labels| × |lists| tiny files were the fleet's warm-time
    * constant (SCALE.md batch-10) and, at 10× labels, the small-files
    * cliff. √nlist balances the two costs that scale oppositely: a
    * point query opens ≤ min(nprobe, √nlist) files per label instead
    * of nprobe, while each file still covers only √nlist lists, so
    * group-level partition pruning plus the row-group sort on
    * centroid_id keeps read amplification bounded at ~√nlist/nprobe.
    */
  def listGroupCount(nlist: Int): Int =
    math.max(1, math.ceil(math.sqrt(nlist.toDouble)).toInt)

  /** The group a centroid's list lands in: its RANK in the sorted
    * codebook modulo [[listGroupCount]] — rank, not the raw id,
    * because sampled centroid ids are stride-multiples and
    * `id % groups` would alias entire strides into a few groups
    * (gcd(stride, groups) collapse); ranks are dense 0..nlist−1, so
    * round-robin over them is exactly balanced. Pure function of
    * (codebook, centroid id) — the write path and every search
    * derive it independently and must agree.
    */
  def listGroupOf(codebook: Array[(Long, Seq[Float])],
                  centroidId: Long): Long = {
    val rank = codebook.indexWhere(_._1 == centroidId)
    require(rank >= 0, s"centroid $centroidId not in codebook")
    (rank % listGroupCount(codebook.length)).toLong
  }

  /** PERSIST a LABEL-PARTITIONED IVF index — the layout knob the
    * filtered-search scaladoc names: rows land under
    * `label=L/list_grp=G/` (G = [[listGroupOf]] the assigned list) so
    * a search constrained to label L probing `nprobe` lists prunes to
    * that label's probed GROUPS at the directory layer and to the
    * probed lists inside each file via the parquet row-group sort on
    * `centroid_id` (pushed data filter) — two-level pruning with the
    * file count capped at |labels| × ⌈√nlist⌉ instead of
    * |labels| × nlist (the r13 compaction; `centroid_id` rides as a
    * DATA column now, partition-pruned by group, row-group-pruned by
    * the sort). Same scan-stage assignment + one shuffle on
    * (label, group) for the one-file-per-(label, group) layout.
    */
  def ivfIndexWriteLabeled(emb: DataFrame, idCol: String,
                           labelCol: String, vecCol: String,
                           indexDir: String,
                           codebook: Array[(Long, Seq[Float])]): Unit = {
    val centsLit = typedLit(codebook.map(_._2).toSeq)
    val idsLit = typedLit(codebook.map(_._1).toSeq)
    val groups = listGroupCount(codebook.length)
    Dedup.spread(emb.select(col(idCol).cast("long").as("cid"),
        col(labelCol).cast("long").as("label"),
        col(vecCol).cast("array<float>").as("cv")))
      .withColumn("centroid_id", try_element_at(
        nearest_centroids(col("cv"), centsLit, idsLit, 1), lit(1)))
      // null (zero-norm) assignments never become index residents —
      // the forget loop's same-skip contract (see ivfIndexWriteWithCodebook)
      .filter(col("centroid_id").isNotNull)
      // rank-derived group: array_position over the codebook id
      // literal IS listGroupOf as a scan-stage expression (1-based,
      // hence the −1)
      .withColumn("list_grp", pmod(
        array_position(idsLit, col("centroid_id")) - 1,
        lit(groups.toLong)))
      .repartition(col("label"), col("list_grp"))
      // row-group stats on centroid_id make the pushed probe filter
      // skip non-probed lists WITHIN each group file. The partition
      // columns MUST prefix the sort: the partitioned writer requires
      // rows grouped by partition values and inserts its OWN local
      // sort on just (label, list_grp) when the incoming order
      // doesn't — silently discarding the centroid_id order
      // (Round13Spec's per-file order check caught exactly this)
      .sortWithinPartitions(col("label"), col("list_grp"),
        col("centroid_id"), col("cid"))
      .write.mode("overwrite").partitionBy("label", "list_grp")
      .parquet(indexDir)
  }

  /** DERIVE a labeled index instance by restricting an existing one —
    * [[ivfIndexDerive]] for the (label, list_grp) layout: one
    * filter-copy pass, never a re-assignment.
    */
  def ivfIndexDeriveLabeled(spark: org.apache.spark.sql.SparkSession,
                            srcDir: String, dstDir: String,
                            keep: Column): Unit =
    spark.read.parquet(srcDir)
      .filter(keep)
      .repartition(col("label"), col("list_grp"))
      .sortWithinPartitions(col("label"), col("list_grp"),
        col("centroid_id"), col("cid"))
      .write.mode("overwrite").partitionBy("label", "list_grp")
      .parquet(dstDir)

  /** Single filtered query over a [[ivfIndexWriteLabeled]] index: the
    * label equality AND the probed lists' GROUPS are partition
    * filters (the scan reads only the query label's probed group
    * files — ≤ min(nprobe, √nlist) of them), while the probed list
    * ids ride as a PUSHED data filter that the row-group sort on
    * `centroid_id` turns into parquet page skipping — the
    * storage-layer face of filtered ANN under the compacted layout
    * (PlanSpec pins both levels).
    */
  def ivfIndexedSearchLabeled(spark: org.apache.spark.sql.SparkSession,
                              indexDir: String,
                              codebook: Array[(Long, Seq[Float])],
                              qid: Long, qlabel: Long, qv: Seq[Float],
                              nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centsLit = typedLit(codebook.map(_._2).toSeq)
    val idsLit = typedLit(codebook.map(_._1).toSeq)
    val probes = spark.range(1).select(
        nearest_centroids(typedLit(qv), centsLit, idsLit, nprobe).as("p"))
      .head().getSeq[Long](0)
    val grps = probes.map(listGroupOf(codebook, _)).distinct
    // unpartitioned window audit (r15): the rnk <= k filter below
    // compiles to WindowGroupLimit, so each scan partition forwards at
    // most k rows to the single-partition sort — bounded by k·|scan
    // partitions| at any corpus size, never by list occupancy
    val w = Window.orderBy(col("sim_r").desc, col("cid"))
    spark.read.parquet(indexDir)
      .filter(col("label") === qlabel &&
        col("list_grp").isin(grps: _*) &&
        col("centroid_id").isin(probes: _*))
      .filter(col("cid") =!= qid)
      .withColumn("sim_r", round(cosine_sim(typedLit(qv), col("cv")), 4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(lit(qid).as("qid"), col("cid"), col("sim_r"), col("rnk"))
  }

  /** BATCH (query-fleet) filtered search over a
    * [[ivfIndexWriteLabeled]] index: every query probes under ITS OWN
    * label in one plan — probe rows are (qid, qlabel, probed list)
    * keys and the stored lists join on (label, centroid_id), so the
    * label predicate rides the equi-join exactly as in the in-plan
    * operator. A fleet spanning every label reads every label's
    * partitions (pruning is the POINT-query win — [[
    * ivfIndexedSearchLabeled]]); what the batch mode buys is one scan
    * + one join for the whole fleet instead of |Q| pruned jobs, the
    * same trade the PQ/SQ batch searches make.
    */
  def ivfIndexedBatchSearchLabeled(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String, codebook: Array[(Long, Seq[Float])],
      queries: DataFrame, nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centsLit = typedLit(codebook.map(_._2).toSeq)
    val idsLit = typedLit(codebook.map(_._1).toSeq)
    val probes = queries
      .select(col("qid"), col("qlabel").cast("long").as("label"),
        col("qv"))
      .withColumn("centroid_id",
        explode(nearest_centroids(col("qv"), centsLit, idsLit, nprobe)))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim_r").desc, col("cid"))
    spark.read.parquet(indexDir)
      .select(col("cid"), col("cv"), col("label").cast("long"),
        col("centroid_id").cast("long"))
      .join(Hints.maybeBroadcast(probes), Seq("label", "centroid_id"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim_r", round(cosine_sim(col("qv"), col("cv")), 4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("sim_r"), col("rnk"))
  }

  /** APPEND a delta batch to a persisted [[ivfIndexWriteLabeled]]
    * index — the labeled twin of [[ivfIndexAppendDelta]], completing
    * the labeled instance's build → DELTA → forget triad: delta
    * vectors are assigned under the SHARED codebook (labels never
    * change assignment), grouped by the SAME rank rule, and only the
    * touched (label, list_grp) partitions are merged
    * (existing rows ∪ delta) through the durable-staging →
    * idempotent-publish crash contract. Cost O(|delta| + rows in
    * touched partitions); untouched partition files never read or
    * rewritten.
    */
  def ivfIndexAppendDeltaLabeled(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String, codebook: Array[(Long, Seq[Float])],
      delta: DataFrame, idCol: String, labelCol: String,
      vecCol: String, stagingDirOpt: Option[String] = None): Unit = {
    val centsLit = typedLit(codebook.map(_._2).toSeq)
    val idsLit = typedLit(codebook.map(_._1).toSeq)
    val groups = listGroupCount(codebook.length)
    val assigned = delta
      .select(col(idCol).cast("long").as("cid"),
        col(labelCol).cast("long").as("label"),
        col(vecCol).cast("array<float>").as("cv"))
      .withColumn("centroid_id", try_element_at(
        nearest_centroids(col("cv"), centsLit, idsLit, 1), lit(1)))
      .filter(col("centroid_id").isNotNull)
      .withColumn("list_grp", pmod(
        array_position(idsLit, col("centroid_id")) - 1,
        lit(groups.toLong)))
    // bounded collect: ≤ |labels| × ⌈√nlist⌉ touched partitions
    val touched = assigned.select(col("label"), col("list_grp"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    if (touched.isEmpty) return
    val touchedPred: Column = touched.map { case (l, g) =>
      col("label") === l && col("list_grp") === g
    }.reduce(_ || _)
    val staging = stagingDirOpt.getOrElse(
      indexDir.stripSuffix("/") + ".staging")
    spark.read.parquet(indexDir)
      .filter(touchedPred)
      .select(col("cid"), col("cv"), col("label").cast("long"),
        col("centroid_id").cast("long"), col("list_grp").cast("long"))
      .unionByName(assigned
        .select(col("cid"), col("cv"), col("label"),
          col("centroid_id"), col("list_grp")))
      .repartition(col("label"), col("list_grp"))
      .sortWithinPartitions(col("label"), col("list_grp"),
        col("centroid_id"), col("cid"))
      .write.mode("overwrite")
      .partitionBy("label", "list_grp").parquet(staging)
    spark.read.parquet(staging)
      .repartition(col("label"), col("list_grp"))
      // re-sort after the publish shuffle: the pushed probe-id filter
      // prunes ROW GROUPS via the centroid_id sort, and a maintenance
      // pass must not silently strip the layout's second pruning level
      .sortWithinPartitions(col("label"), col("list_grp"),
        col("centroid_id"), col("cid"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("label", "list_grp").parquet(indexDir)
    deleteDir(spark, staging) // only after a successful publish
  }

  /** FORGET rows from a persisted [[ivfIndexWriteLabeled]] index —
    * [[ivfIndexForget]]'s loop on the (label, list_grp) layout,
    * completing the labeled instance's maintenance story: forget
    * vectors are assigned under the SHARED codebook and their
    * (label, group) partitions — knowable without scanning the
    * index — are the only ones read, anti-joined on `cid`, staged
    * durably, and republished via the same idempotent dynamic
    * partition overwrite; partitions left EMPTY by the deletion have
    * their directories removed explicitly after publish. Cost
    * O(|forget| + rows in touched (label, group) files); untouched
    * partitions never read or rewritten. Same crash contract as the
    * unlabeled triad: staging is durable, publish re-runnable,
    * empty-dir deletes idempotent.
    */
  def ivfIndexForgetLabeled(spark: org.apache.spark.sql.SparkSession,
                            indexDir: String,
                            codebook: Array[(Long, Seq[Float])],
                            forget: DataFrame, idCol: String,
                            labelCol: String, vecCol: String,
                            stagingDirOpt: Option[String] = None): Unit = {
    val centsLit = typedLit(codebook.map(_._2).toSeq)
    val idsLit = typedLit(codebook.map(_._1).toSeq)
    val groups = listGroupCount(codebook.length)
    val assigned = forget
      .select(col(idCol).cast("long").as("cid"),
        col(labelCol).cast("long").as("label"),
        col(vecCol).cast("array<float>").as("cv"))
      .withColumn("centroid_id", try_element_at(
        nearest_centroids(col("cv"), centsLit, idsLit, 1), lit(1)))
      .filter(col("centroid_id").isNotNull && col("cid").isNotNull)
      .withColumn("list_grp", pmod(
        array_position(idsLit, col("centroid_id")) - 1,
        lit(groups.toLong)))
    // bounded collect: one row per touched (label, group) partition —
    // ≤ |labels| × ⌈√nlist⌉ by the layout's construction
    val touched = assigned.select(col("label"), col("list_grp"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    if (touched.isEmpty) return
    def touchedPred: Column = touched.map { case (l, g) =>
      col("label") === l && col("list_grp") === g
    }.reduce(_ || _)
    val staging = stagingDirOpt.getOrElse(
      indexDir.stripSuffix("/") + ".staging")
    val survivors = spark.read.parquet(indexDir)
      .filter(touchedPred)
      .join(Hints.maybeBroadcast(assigned.select(col("cid"))),
        Seq("cid"), "left_anti")
    def partDir(l: Long, g: Long): String =
      indexDir.stripSuffix("/") + s"/label=$l/list_grp=$g"
    // a label whose every group was deleted leaves an empty label=L
    // parent dir — remove it so the partition discovery never lists a
    // label with no data (idempotent: deleting a missing dir is a
    // no-op)
    def cleanEmptyLabels(labels: Seq[Long]): Unit = {
      val conf = spark.sparkContext.hadoopConfiguration
      labels.distinct.foreach { l =>
        val p = new org.apache.hadoop.fs.Path(
          indexDir.stripSuffix("/") + s"/label=$l")
        val fs = p.getFileSystem(conf)
        if (fs.exists(p) && fs.listStatus(p).isEmpty) fs.delete(p, true)
      }
    }
    if (survivors.isEmpty) {
      touched.foreach { case (l, g) => deleteDir(spark, partDir(l, g)) }
      cleanEmptyLabels(touched.map(_._1).toSeq)
      return
    }
    survivors
      .repartition(col("label"), col("list_grp"))
      .sortWithinPartitions(col("label"), col("list_grp"),
        col("centroid_id"), col("cid"))
      .write.mode("overwrite")
      .partitionBy("label", "list_grp").parquet(staging)
    val survivedParts = spark.read.parquet(staging)
      .select(col("label").cast("long"), col("list_grp").cast("long"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.read.parquet(staging)
      .repartition(col("label"), col("list_grp"))
      // re-sort after the publish shuffle (see the delta twin): the
      // row-group sort IS the layout's second pruning level
      .sortWithinPartitions(col("label"), col("list_grp"),
        col("centroid_id"), col("cid"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("label", "list_grp").parquet(indexDir)
    val emptied = touched.filterNot(survivedParts)
    emptied.foreach { case (l, g) => deleteDir(spark, partDir(l, g)) }
    cleanEmptyLabels(emptied.map(_._1).toSeq)
    deleteDir(spark, staging) // only after a successful publish
  }

  def ivfIndexedSearch(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String,
                       codebook: Array[(Long, Seq[Float])],
                       qid: Long, qv: Seq[Float],
                       nprobe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centsLit = typedLit(codebook.map(_._2).toSeq)
    val idsLit = typedLit(codebook.map(_._1).toSeq)
    // probe ids via the same argmax kernel, evaluated on a 1-row frame
    val probes = spark.range(1).select(
        nearest_centroids(typedLit(qv), centsLit, idsLit, nprobe).as("p"))
      .head().getSeq[Long](0)
    // unpartitioned window audit (r15): the rnk <= k filter below
    // compiles to WindowGroupLimit, so each scan partition forwards at
    // most k rows to the single-partition sort — bounded by k·|scan
    // partitions| at any corpus size, never by list occupancy
    val w = Window.orderBy(col("sim_r").desc, col("cid"))
    spark.read.parquet(indexDir)
      .filter(col("centroid_id").isin(probes: _*))
      .filter(col("cid") =!= qid)
      .withColumn("sim_r", round(cosine_sim(typedLit(qv), col("cv")), 4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(lit(qid).as("qid"), col("cid"), col("sim_r"), col("rnk"))
  }

  /** PERSIST an IVF-PQ index (Jégou et al. TPAMI 2011 IVFADC): the
    * searchable corpus state is (cid, m-byte code) partitioned BY
    * LIST ID — no raw vectors. At m=16 one-byte codes over 64-d
    * float vectors that is a 16× smaller table than the vectors it
    * stands for (the scaladoc promise [[ivfpqTopK]] makes, landed at
    * the storage layer): the index tier a serving fleet keeps hot
    * while the raw vectors stay cold in parquet. Codes are computed
    * by [[pqEncode]] under the supplied (pre-trained) sub-codebooks;
    * list assignment is the scan-stage argmax under the shared coarse
    * quantizer — one corpus scan, zero shuffle before the
    * partitioned write.
    */
  def ivfpqIndexWrite(emb: DataFrame, idCol: String, vecCol: String,
                      indexDir: String,
                      coarseCodebook: Array[(Long, Seq[Float])],
                      pqCodebooks: Array[Array[Array[Float]]]): Unit = {
    val centsLit = typedLit(coarseCodebook.map(_._2).toSeq)
    val idsLit = typedLit(coarseCodebook.map(_._1).toSeq)
    val (encoded, _) = pqEncode(emb, idCol, vecCol,
      m = pqCodebooks.length, k = pqCodebooks.head.length, iters = 0,
      codebooksOpt = Some(pqCodebooks))
    encoded
      .withColumn("centroid_id", try_element_at(
        nearest_centroids(col("v"), centsLit, idsLit, 1), lit(1)))
      // null (zero-norm) assignments never become index residents —
      // the forget loop's same-skip contract (see ivfIndexWriteWithCodebook)
      .filter(col("centroid_id").isNotNull)
      .select(col("id").as("cid"), col("code"), col("centroid_id"))
      .repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(indexDir)
  }

  /** Single-query search over a persisted [[ivfpqIndexWrite]] index —
    * IVFADC+R against STORED codes: the query's `nprobe` list ids are
    * computed driver-side from the shared coarse codebook and inlined
    * as an IN filter, so the code scan reads ONLY those list
    * partitions (`PartitionFilters`, pinned by PlanSpec); ADC ranks
    * the probed codes on cosine(query, reconstruct(code)) to a
    * `rerank`-deep shortlist (bounded driver collect, ≤ rerank ids);
    * and the exact re-rank reads raw vectors through an
    * `isin(shortlist)` filter PUSHED INTO the vector scan — raw
    * vectors beyond the shortlist are never deserialized
    * (`IvfIndexSpec` pins the PushedFilters). `rawVectors` must carry
    * (cid, cv) for the same corpus the index was built from.
    */
  def ivfpqIndexedSearch(spark: org.apache.spark.sql.SparkSession,
                         indexDir: String,
                         coarseCodebook: Array[(Long, Seq[Float])],
                         pqCodebooks: Array[Array[Array[Float]]],
                         rawVectors: DataFrame,
                         qid: Long, qv: Seq[Float],
                         nprobe: Int, k: Int, rerank: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centsLit = typedLit(coarseCodebook.map(_._2).toSeq)
    val idsLit = typedLit(coarseCodebook.map(_._1).toSeq)
    val probes = spark.range(1).select(
        nearest_centroids(typedLit(qv), centsLit, idsLit, nprobe).as("p"))
      .head().getSeq[Long](0)
    val shortlist = ivfpqAdcFrame(spark, indexDir, pqCodebooks, qid, qv,
        probes, rerank)
      .collect().map(_.getLong(0)) // bounded by design: ≤ rerank ids
    // unpartitioned window audit (r15): input is the shortlist-filtered
    // raw vectors — ≤ rerank rows by construction, corpus-size-free
    val w = Window.orderBy(col("sim_r").desc, col("cid"))
    rawVectors
      .filter(col("cid").isin(shortlist: _*))
      .withColumn("sim_r", round(cosine_sim(typedLit(qv), col("cv")), 4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(lit(qid).as("qid"), col("cid"), col("sim_r"), col("rnk"))
  }

  /** BATCH (query-fleet) search over a persisted [[ivfpqIndexWrite]]
    * index — the mode a serving tier runs between single-query point
    * lookups and full rebuilds: ALL queries served in ONE plan
    * against the stored (cid, code) lists. Probe lists are computed
    * in-plan (scan-stage `nearest_centroids` explode over the shared
    * coarse-codebook literals), candidates are an EQUI-join on list
    * id against the code table read from disk — raw vectors never
    * touch the ADC stage — and the per-query `rerank` shortlist joins
    * the vector table for the exact re-rank, exactly [[ivfpqTopK]]'s
    * two-stage shape with the encode step replaced by the index read.
    * `queries` = (qid, qv float[]); `rawVectors` = (cid, cv float[]).
    */
  def ivfpqIndexedBatchSearch(spark: org.apache.spark.sql.SparkSession,
                              indexDir: String,
                              coarseCodebook: Array[(Long, Seq[Float])],
                              pqCodebooks: Array[Array[Array[Float]]],
                              queries: DataFrame, rawVectors: DataFrame,
                              nprobe: Int, k: Int, rerank: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centsLit = typedLit(coarseCodebook.map(_._2).toSeq)
    val idsLit = typedLit(coarseCodebook.map(_._1).toSeq)
    val probes = queries.withColumn("centroid_id",
      explode(nearest_centroids(col("qv"), centsLit, idsLit, nprobe)))
    // partition-dir inference reads the list id back as INT —
    // normalize for the equi-join against the long probe ids
    val lists = spark.read.parquet(indexDir)
      .select(col("cid"), col("code"),
        col("centroid_id").cast("long").as("centroid_id"))
    val recon = pqReconstructExpr(pqCodebooks, col("code"))
    val wApprox = Window.partitionBy(col("qid"))
      .orderBy(col("__sim_adc").desc, col("cid"))
    val shortlist = lists.join(Hints.maybeBroadcast(probes),
        Seq("centroid_id"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("__sim_adc", cosine_sim(col("qv"), recon))
      .withColumn("__arnk", row_number().over(wApprox))
      .filter(col("__arnk") <= rerank)
      .select(col("qid"), col("qv"), col("cid"))
    val wExact = Window.partitionBy(col("qid"))
      .orderBy(col("sim_r").desc, col("cid"))
    shortlist.join(rawVectors, Seq("cid"))
      .withColumn("sim_r", round(cosine_sim(col("qv"), col("cv")), 4))
      .withColumn("rnk", row_number().over(wExact))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("sim_r"), col("rnk"))
  }

  /** APPEND a delta batch to a persisted [[ivfpqIndexWrite]] index —
    * the PQ twin of [[ivfIndexAppendDelta]], sharing its
    * crash-consistency contract verbatim (durable staging →
    * idempotent [[ivfIndexPublishStaged]] → staging deleted only
    * after success): delta vectors are ENCODED under the SHARED
    * sub-codebooks and assigned under the SHARED coarse quantizer
    * (retraining on arrival would silently re-key the whole index —
    * the codebooks are fit-once state, exactly like the IVF
    * codebook), then only the touched code lists are merged and
    * republished. Cost O(|delta| + rows in touched lists); untouched
    * lists' files never read or rewritten.
    */
  def ivfpqIndexAppendDelta(spark: org.apache.spark.sql.SparkSession,
                            indexDir: String,
                            coarseCodebook: Array[(Long, Seq[Float])],
                            pqCodebooks: Array[Array[Array[Float]]],
                            delta: DataFrame, idCol: String,
                            vecCol: String,
                            stagingDirOpt: Option[String] = None): Unit = {
    // pqEncode reads the dimension from the frame — probe emptiness
    // first so an empty delta is an explicit bit-level no-op
    if (delta.isEmpty) return
    val centsLit = typedLit(coarseCodebook.map(_._2).toSeq)
    val idsLit = typedLit(coarseCodebook.map(_._1).toSeq)
    val (encoded, _) = pqEncode(delta, idCol, vecCol,
      m = pqCodebooks.length, k = pqCodebooks.head.length, iters = 0,
      codebooksOpt = Some(pqCodebooks))
    val assigned = encoded
      .withColumn("centroid_id", try_element_at(
        nearest_centroids(col("v"), centsLit, idsLit, 1), lit(1)))
      .select(col("id").as("cid"), col("code"), col("centroid_id"))
    // bounded collect: one id per touched list, ≤ |codebook| by design
    val touched = assigned.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0))
    if (touched.isEmpty) return
    val staging = stagingDirOpt.getOrElse(
      indexDir.stripSuffix("/") + ".staging")
    spark.read.parquet(indexDir)
      .filter(col("centroid_id").isin(touched: _*))
      .unionByName(assigned)
      .repartition(col("centroid_id"))
      .write.mode("overwrite")
      .partitionBy("centroid_id").parquet(staging)
    ivfIndexPublishStaged(spark, indexDir, staging)
    deleteDir(spark, staging) // only after a successful publish
  }

  /** The ADC stage of [[ivfpqIndexedSearch]] as a frame (shortlist
    * cids, ADC-ranked): a TakeOrdered over the probed code partitions
    * with the same tie order as [[ivfpqTopK]]'s window (quantized sim
    * DESC, cid). Split out so `IvfIndexSpec` can pin the plan — the
    * probed list ids must land in the scan's `PartitionFilters`
    * (storage-layer pruning), and the stage touches no raw vectors.
    */
  def ivfpqAdcFrame(spark: org.apache.spark.sql.SparkSession,
                    indexDir: String,
                    pqCodebooks: Array[Array[Array[Float]]],
                    qid: Long, qv: Seq[Float],
                    probes: Seq[Long], rerank: Int): DataFrame = {
    val recon = pqReconstructExpr(pqCodebooks, col("code"))
    spark.read.parquet(indexDir)
      .filter(col("centroid_id").isin(probes: _*))
      .filter(col("cid") =!= qid)
      .withColumn("__sim_adc", cosine_sim(typedLit(qv), recon))
      .orderBy(col("__sim_adc").desc, col("cid"))
      .limit(rerank)
      .select(col("cid"))
  }

  /** Spherical k-means training (Lloyd iterations) — the "train the
    * quantizer" step [[ivfTopK]]'s deterministic every-Nth codebook
    * deliberately skips. Assignment is the scan-stage
    * `nearest_centroids` argmax over a broadcast LITERAL codebook
    * (zero shuffle corpus → cluster id, same shape as IVF list
    * assignment); the update step explodes vectors to (cluster, dim,
    * x̂) with map-side partial aggregation, so the shuffle carries at
    * most k·d·partitions partial sums — never corpus rows — and the
    * driver receives exactly k·d cells per iteration (bounded by
    * construction, like the IVF codebook collect). Vectors are
    * L2-normalized before averaging and the mean is re-normalized
    * (spherical k-means), which is what makes the cosine objective
    * Σ(1 − cos) monotonically non-increasing across iterations — the
    * property the `kmeans_gate` query asserts. Empty clusters keep
    * their previous centroid; zero-norm vectors are excluded from the
    * statistics (their cosine is undefined) but counted in `n`.
    *
    * Returns (final codebook, per-iteration history of
    * (iter, sse, nPoints)).
    */
  def kmeansTrain(emb: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int, seedEvery: Int = 97)
      : (Array[Array[Float]], Seq[(Int, Double, Long)]) = {
    val base = emb.select(col(vecCol).cast("array<float>").as("v"))
    var cents: Array[Array[Float]] = emb
      .filter(col(idCol) % seedEvery === 0)
      .orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast("array<float>"))
      .collect().map(_.getSeq[Float](0).toArray)
    require(cents.nonEmpty, "no seed centroids (empty input?)")
    val dim = cents.head.length
    val history = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Long)]
    for (it <- 1 to iters) {
      val centsLit = typedLit(cents.map(_.toSeq).toSeq)
      val idsLit = typedLit(cents.indices.map(_.toLong))
      val assigned = base
        .withColumn("cidx", try_element_at(
          nearest_centroids(col("v"), centsLit, idsLit, 1), lit(1)))
        .withColumn("sim", cosine_sim(col("v"),
          try_element_at(centsLit, (col("cidx") + 1).cast("int"))))
        .withColumn("nrm", sqrt(dot_product(col("v"), col("v"))))
      val Array(sse, nPoints) = assigned
        .agg(sum(lit(1.0) - col("sim")), count(lit(1)))
        .head().toSeq.toArray.map {
          case d: Double => d; case l: Long => l.toDouble; case null => 0.0
        }
      // update step: per-(cluster, dim) sums of NORMALIZED components
      // in e12 FIXED POINT — floor(x/nrm·10¹² + 0.5) per row, int64
      // sum. Double sums would depend on shuffle-merge order (partial
      // aggregates arrive nondeterministically), making the trained
      // codebook irreproducible across runs AND non-replayable in the
      // oracle; integer addition is order-independent, so the codebook
      // is bit-stable and the whole Lloyd loop unrolls into DuckDB SQL
      // (the ann_ivf_trained full oracle). |x/nrm| ≤ 1 keeps each term
      // within ±10¹²; overflow needs 9·10⁶ corpus rows PER CLUSTER
      // CELL × partition count beyond int64 — not reachable before the
      // driver-side k·d collect is the real bound. Quantization error
      // (≤ 5·10⁻¹³ per component pre-normalization) is far below the
      // float rounding the update already applies.
      val cells = assigned.filter(col("cidx").isNotNull && col("nrm") > 0)
        .select(col("cidx"),
          posexplode(col("v")).as(Seq("d", "x")),
          col("nrm"))
        .groupBy(col("cidx"), col("d"))
        .agg(sum(floor(col("x") / col("nrm") * lit(1e12) + lit(0.5)))
          .as("sx_e12"))
        .collect()
      val next = cents.map(_.clone())
      cells.groupBy(_.getLong(0)).foreach { case (cidx, rows) =>
        val c = new Array[Float](dim)
        rows.foreach(r => c(r.getInt(1)) = (r.getLong(2) / 1e12).toFloat)
        val n2 = math.sqrt(c.map(x => x.toDouble * x).sum)
        if (n2 > 0) next(cidx.toInt) = c.map(x => (x / n2).toFloat)
      }
      cents = next
      history += ((it, sse, nPoints.toLong))
    }
    (cents, history.toSeq)
  }

  /** Train all `m` product-quantization sub-codebooks in lock-step:
    * the same spherical Lloyd iteration as [[kmeansTrain]], but every
    * action scans the corpus ONCE for all subspaces instead of once
    * per subspace — at m=8, iters=2 that is 4 corpus scans instead of
    * 32, which at 100 TB is the difference between one index-build
    * pass and a day of re-reads. Per-subspace arithmetic is identical
    * to m independent [[kmeansTrain]] runs over sliced vectors (same
    * seeds, same scan-stage argmax, same normalized-component sums,
    * same driver-side update including the float rounding points), so
    * the trained codebooks match the unfused trainer's — the
    * `KmeansMultiSpec` equivalence test pins this.
    *
    * Driver traffic per iteration is k·d cells + m SSE scalars —
    * exactly the sum of the m unfused trainings, still bounded by
    * construction. Returns (per-subspace codebooks, per-iteration
    * history of (iter, per-subspace SSE, nPoints)).
    */
  def kmeansTrainMulti(emb: DataFrame, idCol: String, vecCol: String,
                       m: Int, k: Int, iters: Int, seedEvery: Int = 97)
      : (Array[Array[Array[Float]]], Seq[(Int, Array[Double], Long)]) = {
    val base = emb.select(col(vecCol).cast("array<float>").as("v"))
    val dim = base.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // one seed collect for all subspaces: the SAME rows kmeansTrain
    // selects per subspace, sliced driver-side instead of m times in
    // the plan
    val seeds = emb.filter(col(idCol) % seedEvery === 0)
      .orderBy(col(idCol)).limit(k)
      .select(col(vecCol).cast("array<float>"))
      .collect().map(_.getSeq[Float](0).toArray)
    require(seeds.nonEmpty, "no seed centroids (empty input?)")
    // the effective codebook size: the seed scan may yield < k rows on
    // tiny inputs, exactly as each unfused training would see
    val kEff = seeds.length
    var cbs: Array[Array[Array[Float]]] =
      Array.tabulate(m)(j => seeds.map(_.slice(j * sub, (j + 1) * sub)))
    val history =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Double], Long)]
    def sliceJ(j: Int): Column = slice(col("v"), j * sub + 1, sub)
    for (it <- 1 to iters) {
      val centsLits = cbs.map(cb => typedLit(cb.map(_.toSeq).toSeq))
      val idsLit = typedLit((0 until kEff).map(_.toLong))
      var assigned = base
      for (j <- 0 until m) {
        assigned = assigned
          .withColumn(s"cidx_$j", try_element_at(
            nearest_centroids(sliceJ(j), centsLits(j), idsLit, 1), lit(1)))
          .withColumn(s"sim_$j", cosine_sim(sliceJ(j),
            try_element_at(centsLits(j), (col(s"cidx_$j") + 1).cast("int"))))
          .withColumn(s"nrm_$j", sqrt(dot_product(sliceJ(j), sliceJ(j))))
      }
      // action 1: all m SSEs + the row count ride one scan
      val aggCols = (0 until m).map(j => sum(lit(1.0) - col(s"sim_$j"))) :+
        count(lit(1)).as("__n")
      val row = assigned.agg(aggCols.head, aggCols.tail: _*).head()
      val sses = Array.tabulate(m)(j => row.toSeq(j) match {
        case d: Double => d; case _ => 0.0
      })
      val nPoints = row.getLong(m)
      // action 2: one posexplode of the FULL vector; each exploded cell
      // recovers its subspace from the global dim index, so the shuffle
      // carries the same k·d·partitions partial sums as m separate
      // updates — in one job
      val cells = assigned
        .select(
          array((0 until m).map(j => col(s"cidx_$j")): _*).as("cidxs"),
          array((0 until m).map(j => col(s"nrm_$j")): _*).as("nrms"),
          posexplode(col("v")).as(Seq("dg", "x")))
        .withColumn("j", expr(s"dg DIV $sub"))
        .withColumn("d", expr(s"dg % $sub"))
        .withColumn("cidx", try_element_at(col("cidxs"), (col("j") + 1).cast("int")))
        .withColumn("nrm", try_element_at(col("nrms"), (col("j") + 1).cast("int")))
        .filter(col("cidx").isNotNull && col("nrm") > 0)
        .groupBy(col("j"), col("cidx"), col("d"))
        .agg(sum(floor(col("x") / col("nrm") * lit(1e12) + lit(0.5)))
          .as("sx_e12"))
        .collect()
      // driver update: replicate kmeansTrain's arithmetic exactly
      // (e12 int64 cell sum → Float cell → Float-squared norm →
      // Float divide) — see kmeansTrain for the fixed-point rationale
      val sums = Array.fill(m, kEff)(null: Array[Float])
      cells.foreach { r =>
        // dg DIV sub is LongType while dg % sub stays IntegerType —
        // read both numerically rather than pinning boxed classes
        val j = r.getAs[Number](0).intValue
        val cidx = r.getAs[Number](1).intValue
        val d = r.getAs[Number](2).intValue
        if (sums(j)(cidx) == null) sums(j)(cidx) = new Array[Float](sub)
        sums(j)(cidx)(d) = (r.getLong(3) / 1e12).toFloat
      }
      val next = cbs.map(_.map(_.clone()))
      for (j <- 0 until m; c <- 0 until kEff; if sums(j)(c) != null) {
        val cell = sums(j)(c)
        val n2 = math.sqrt(cell.map(x => x.toDouble * x).sum)
        if (n2 > 0) next(j)(c) = cell.map(x => (x / n2).toFloat)
      }
      cbs = next
      history += ((it, sses, nPoints))
    }
    (cbs, history.toSeq)
  }

  /** Assign every embedding to its nearest trained spherical-k-means
    * centroid: [[kmeansTrain]] for the codebook (bounded driver
    * collect, k·d floats), then one scan-stage `nearest_centroids`
    * argmax over the literal codebook — zero shuffle between the
    * corpus scan and its cluster id, the same shape as IVF list
    * assignment. Returns (id, cluster, v).
    */
  def assignKmeansClusters(emb: DataFrame, idCol: String, vecCol: String,
                           k: Int, iters: Int,
                           centsOpt: Option[Array[Array[Float]]] = None)
      : DataFrame = {
    val cents = centsOpt.getOrElse(
      kmeansTrain(emb, idCol, vecCol, k, iters)._1)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val idsLit = typedLit(cents.indices.map(_.toLong))
    Dedup.spread(emb.select(col(idCol).as("id"),
        col(vecCol).cast("array<float>").as("v")))
      .withColumn("cluster", try_element_at(
        nearest_centroids(col("v"), centsLit, idsLit, 1), lit(1)))
  }

  /** Within-cluster candidate pairs at cosine ≥ `threshold`
    * (id_a < id_b) — the ONE quadratic join both
    * [[semanticDedupByCluster]] and the `semdedup_gate` contract
    * checks read (a second copy of this join could silently drift
    * from the operator's pair set).
    */
  def withinClusterPairs(assigned: DataFrame, threshold: Double): DataFrame = {
    val a = assigned.select(col("cluster"), col("id").as("id_a"),
      col("v").as("v_a"))
    val b = assigned.select(col("cluster"), col("id").as("id_b"),
      col("v").as("v_b"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b") &&
        cosine_sim(col("v_a"), col("v_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** SemDeDup-style semantic dedup (cluster, then prune near-dups
    * inside each cluster — Abbas et al. 2023, arXiv:2303.09540):
    * given `assigned` = (id, cluster, v), a row is dropped iff some
    * smaller-id row in the same cluster has cosine ≥ `threshold` —
    * the rank rule of the reference SemDeDup implementation (x is
    * removed when ANY better-ranked y is a near-dup, whether or not
    * y itself survives). Note the chain consequence, which is
    * deliberate: for a~b, b~c, a≁c, both b AND c are dropped (c's
    * witness b is itself dropped) — more aggressive than a
    * sequential keep-then-compare greedy, and exactly what the
    * `semdedup_exact` oracle recomputes in SQL.
    * Deterministic for any fixed assignment; returns (id, cluster).
    *
    * Plan shape: ONE equi-join on cluster id generates candidate
    * pairs, so the shuffle carries (cluster, id, vector) — never a
    * cross join. The within-cluster pair count is O(Σ|c|²): SemDeDup's
    * contract is that k scales with corpus size (the paper holds n/k
    * roughly constant, ~100s of points per cluster), which keeps each
    * cluster's quadratic term bounded — at 100 TB that means k in the
    * 10⁵–10⁷ range, not 16; the codebook collect stays bounded because
    * k·d floats is megabytes even then. The pruned id set is compact
    * (ids only) and drives a LEFT ANTI join against the input — same
    * final shape as `dedup_canonical`.
    */
  def semanticDedupByCluster(assigned: DataFrame, threshold: Double): DataFrame = {
    val dropped = withinClusterPairs(assigned, threshold)
      .select(col("id_b").as("id")).distinct()
    assigned.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("cluster"))
  }

  /** Product quantization (Jégou, Douze, Schmid: "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): split
    * each d-dim vector into `m` subspaces of d/m dims, train an
    * independent k-centroid codebook per subspace, and encode every
    * vector as its m nearest-centroid indices — d·4 bytes shrink to
    * m·log₂k bits (64-dim float → 8 bytes at m=8, k=16).
    *
    * Scale shape: training is ONE fused [[kmeansTrainMulti]] run
    * (all m sub-codebooks per corpus scan — the same bounded
    * driver-traffic loop the kmeans_gate query certifies, k·d cells
    * per iteration across all subspaces);
    * encoding is a single projection whose m `nearest_centroids`
    * argmaxes all ride one corpus scan — zero shuffle, the codebooks
    * are literals (m·k·(d/m) = k·d floats total, same budget as one
    * flat codebook). Returns (encoded (id, v, code), codebooks).
    */
  /** `codebooksOpt`: pre-trained sub-codebooks (e.g. a train-once memo
    * — deterministic training makes a cached table byte-identical to a
    * retrain); None trains here.
    */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
               m: Int, k: Int, iters: Int,
               codebooksOpt: Option[Array[Array[Array[Float]]]] = None)
      : (DataFrame, Array[Array[Array[Float]]]) = {
    val dim = emb.select(size(col(vecCol).cast("array<float>")))
      .head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // fused training: all m sub-codebooks advance in lock-step with
    // ONE corpus scan per Lloyd action (KmeansMultiSpec pins the
    // result to m independent trainings) — at 100 TB this replaces
    // m·iters·2 corpus reads with iters·2, and retires the concurrent
    //-futures scheduling this used to need to hide the m job chains
    val codebooks = codebooksOpt.getOrElse(
      kmeansTrainMulti(emb, idCol, vecCol, m, k, iters)._1)
    val base = Dedup.spread(emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<float>").as("v")))
    val codes = (0 until m).map { j =>
      val centsLit = typedLit(codebooks(j).map(_.toSeq).toSeq)
      val idsLit = typedLit(codebooks(j).indices.map(_.toLong))
      try_element_at(
        nearest_centroids(slice(col("v"), j * sub + 1, sub),
          centsLit, idsLit, 1), lit(1))
    }
    (base.withColumn("code", array(codes: _*)), codebooks)
  }

  /** IVF-PQ search (Jégou et al. TPAMI 2011 §IV: the IVFADC scheme):
    * inverted lists probed exactly as in [[ivfTopK]], but candidates
    * ranked against the PQ RECONSTRUCTION of each corpus vector —
    * so after index build the search-side corpus state is
    * (id, list_id, m-byte code): a 32× smaller table than raw
    * float vectors, which at 100 TB is the difference between an
    * in-memory index tier and re-scanning parquet per query. Ranking
    * cosine(query, reconstruct(code)) over a literal codebook is the
    * asymmetric-distance computation (the query side stays exact;
    * only the corpus side is quantized).
    */
  def ivfpqTopK(emb: DataFrame, idCol: String, vecCol: String,
                queryPred: Column, k: Int,
                m: Int = 8, kSub: Int = 16, pqIters: Int = 2,
                centroidEvery: Int = 149, nprobe: Int = 7,
                rerank: Int = 32,
                maxCentroids: Int = 1 << 14,
                pqCodebooksOpt: Option[Array[Array[Array[Float]]]] = None)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val codebook = emb.filter(col(idCol) % centroidEvery === 0)
      .select(col(idCol).cast("long").as("centroid_id"),
        col(vecCol).cast("array<float>").as("centroid_v"))
      .orderBy(col("centroid_id")).limit(maxCentroids)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val centsLit = typedLit(codebook.map(_._2).toSeq)
    val idsLit = typedLit(codebook.map(_._1).toSeq)
    def nearest(v: Column, n: Int): Column =
      nearest_centroids(v, centsLit, idsLit, n)
    val (encoded, cbs) =
      pqEncode(emb, idCol, vecCol, m, kSub, pqIters, pqCodebooksOpt)
    // the searchable index: ids, list assignment, codes — NO vectors
    val lists = encoded
      .withColumn("centroid_id", try_element_at(nearest(col("v"), 1), lit(1)))
      .select(col("id").as("cid"), col("code"), col("centroid_id"))
    val recon = pqReconstructExpr(cbs, col("code"))
    val probes = emb.filter(queryPred)
      .select(col(idCol).as("qid"), col(vecCol).cast("array<float>").as("qv"))
      .withColumn("centroid_id", explode(nearest(col("qv"), nprobe)))
    // stage 1 (ADC): rank the probed lists on quantized similarity —
    // corpus vectors never touched
    val wApprox = Window.partitionBy(col("qid"))
      .orderBy(col("__sim_adc").desc, col("cid"))
    val shortlist = lists.join(Hints.maybeBroadcast(probes), Seq("centroid_id"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("__sim_adc", cosine_sim(col("qv"), recon))
      .withColumn("__arnk", row_number().over(wApprox))
      .filter(col("__arnk") <= rerank)
      .select(col("qid"), col("qv"), col("cid"))
    // stage 2 (+R re-rank, Jégou et al. §V): fetch raw vectors for the
    // |Q|·rerank shortlist ONLY and rank those exactly — the recall
    // lost to quantization noise comes back without ever scanning
    // full-precision vectors beyond the shortlist join
    val raw = emb.select(col(idCol).as("cid"),
      col(vecCol).cast("array<float>").as("cv"))
    val wExact = Window.partitionBy(col("qid"))
      .orderBy(col("sim_r").desc, col("cid"))
    shortlist.join(raw, Seq("cid"))
      .withColumn("sim_r", round(cosine_sim(col("qv"), col("cv")), 4))
      .withColumn("rnk", row_number().over(wExact))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("sim_r"), col("rnk"))
  }

  /** PQ decode expression: concatenate each code cell's chosen
    * sub-centroid (codebooks ride as literals). The ONE definition of
    * code→vector shared by [[pqReconstructionSim]] and [[ivfpqTopK]]'s
    * ADC stage — two copies could silently diverge (e.g. the +1 index
    * bias) and make ranking reconstruct different vectors than the
    * quality gate measures.
    */
  private def pqReconstructExpr(codebooks: Array[Array[Array[Float]]],
                                codeCol: Column): Column =
    concat(codebooks.zipWithIndex.map { case (cb, j) =>
      val centsLit = typedLit(cb.map(_.toSeq).toSeq)
      try_element_at(centsLit,
        (try_element_at(codeCol, lit(j + 1)) + 1).cast("int"))
    }.toSeq: _*)

  /** Reconstruct each vector from its PQ code (concatenate the chosen
    * sub-centroids) and return cosine(original, reconstruction) —
    * the quantization-quality signal the `pq_gate` query floors.
    * Same single-scan shape as encoding.
    */
  def pqReconstructionSim(encoded: DataFrame,
                          codebooks: Array[Array[Array[Float]]]): DataFrame =
    encoded.withColumn("sim",
      cosine_sim(col("v"), pqReconstructExpr(codebooks, col("code"))))

  /** Document pairs that share at least `minShared` winnowing
    * fingerprints, with the count as `n_shared`. `maxDocsPerFp` drops
    * fingerprints shared by more than that many documents: a
    * boilerplate k-gram appearing in thousands of docs contributes
    * O(docs²) pairs while carrying no discrimination signal — the
    * inverted-index stop-list, [[Dedup.keyPairs]]' bucket cap, as in
    * [[Dedup.minhashPairs]].
    */
  def fingerprintPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, w: Int = 4, minShared: Int = 5,
                       maxDocsPerFp: Int = 50,
                       hotFpThreshold: Int = Int.MaxValue,
                       hotFpSalt: Int = 1): DataFrame =
    // keyPairs emits one row per shared fingerprint (exactly once even
    // on the salted path), so the count below IS n_shared
    Dedup.keyPairs(TextOps.winnowingFingerprints(df, idCol, textCol, k, w),
        Seq("fp"), hotFpThreshold, hotFpSalt, maxBucketSize = maxDocsPerFp)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  // ------------------------------------------------------------------
  // Scalar (int8) quantization — the vector-store "SQ8" baseline
  // (per-dimension affine codes; Faiss ScalarQuantizer QT_8bit shape).
  // ------------------------------------------------------------------

  /** Per-dimension [min, max] of a vector column — the SQ8 training
    * statistics. One aggregate pass: posexplode rides the scan, the
    * map-side partial aggregation reduces each task's output to d
    * (min, max) cells before the shuffle, and the driver collects
    * exactly 2·d doubles (the same bounded-collect contract as the
    * IVF codebook). Values are widened float→double BEFORE the
    * min/max (exact), so downstream code arithmetic is pure double.
    */
  def sqStats(emb: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val rows = emb
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("i"))
      .collect()
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** SQ8 encode: q_i = floor((x_i − mn_i)·255/(mx_i − mn_i) + 0.5),
    * clamped to [0, 255]; constant dimensions (mx = mn) encode to 0.
    * The stats ride as array literals, so encoding is ONE scan-stage
    * projection — zero shuffle, 4× compression at a per-dimension
    * error bound of step/2 = (mx−mn)/510. Unlike PQ, the code
    * arithmetic is fixed-order IEEE double math with no trained
    * state, so an external engine replaying the same expression
    * reproduces every code EXACTLY — which is what lets the DuckDB
    * oracle hash-check the operator end to end (`embed_quantize`)
    * instead of only gating it.
    *
    * Output: (id, v double[], code long[] of 0..255).
    */
  def sqEncode(emb: DataFrame, idCol: String, vecCol: String,
               mns: Array[Double], mxs: Array[Double]): DataFrame = {
    require(mns.length == mxs.length && mns.nonEmpty, "empty SQ8 stats")
    val mnLit = typedLit(mns.toSeq)
    val mxLit = typedLit(mxs.toSeq)
    emb.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("code",
        transform(col("v"), (x, i) => {
          val mn = element_at(mnLit, (i + 1).cast("int"))
          val mx = element_at(mxLit, (i + 1).cast("int"))
          when(mx === mn, lit(0L)).otherwise(
            least(lit(255L), greatest(lit(0L),
              floor(((x - mn) * lit(255.0)) / (mx - mn) + lit(0.5)))))
        }))
  }

  /** SQ8 dequantization x̂_i = mn_i + q_i·(mx_i − mn_i)/255 — the
    * reconstruction half used by the quantization-error gate.
    */
  def sqDecode(encoded: DataFrame, mns: Array[Double],
               mxs: Array[Double]): DataFrame =
    encoded.withColumn("v_hat", sqDecodeExpr(col("code"), mns, mxs))

  /** The ONE definition of SQ8 code → vector, shared by [[sqDecode]],
    * [[sqTopK]]'s ADC leg, and [[ivfsqIndexedSearch]] — two copies
    * could silently diverge in operation order and make ranking
    * reconstruct different vectors than the quality gate measures
    * (the [[pqReconstructExpr]] rule applied to SQ).
    */
  private def sqDecodeExpr(codeCol: Column, mns: Array[Double],
                           mxs: Array[Double]): Column = {
    val mnLit = typedLit(mns.toSeq)
    val mxLit = typedLit(mxs.toSeq)
    transform(codeCol, (q, i) => {
      val mn = element_at(mnLit, (i + 1).cast("int"))
      val mx = element_at(mxLit, (i + 1).cast("int"))
      mn + (q.cast("double") * (mx - mn)) / lit(255.0)
    })
  }

  /** SQ-ADC top-k: approximate nearest neighbors ranked on
    * cosine(query, [[sqDecode]](code)) — the asymmetric-distance
    * search that makes the SQ8 codes a SEARCH state, not just a
    * compression gate — with the `rerank`-deep shortlist re-ranked on
    * exact vectors (the +R discipline of [[ivfpqTopK]]). SQ has no
    * inverted lists, so the ADC stage is the brute-force baseline
    * over CODES: 4× less candidate state than raw-vector brute force,
    * scanned via the same chunked bounded-broadcast theta join as
    * `ann_topk` (no broadcast scales with the corpus; the
    * list-pruned path at 100 TB is IVF over the same codes). The
    * reconstruction is float-rounded (`array<float>`) so the ADC leg
    * rides the same codegen'd float-cosine kernel as the PQ family —
    * and because SQ8 encode/decode is fixed-order double math with NO
    * trained state (unlike PQ), every rank here replays in DuckDB:
    * the `ann_sq_topk` oracle recomputes stats → codes →
    * reconstructions → both rank stages and hash-matches the values,
    * where PQ's oracle must unroll Lloyd trainings to do the same.
    */
  /** PERSIST an IVF-SQ index: (cid, 64-byte SQ8 code) partitioned BY
    * LIST ID — the third member of the persisted-index family
    * ([[ivfIndexWrite]] raw vectors, [[ivfpqIndexWrite]] PQ codes),
    * and the one whose ENTIRE lifecycle hash-replays: SQ8 has no
    * trained state (stats are min/max aggregates, codes fixed-order
    * double math), so stats → codes → list assignment → search all
    * recompute in the oracle, where the PQ index's replay must
    * unroll Lloyd trainings. 4× smaller searchable state than raw
    * vectors at reconstruction error ≤ step/2 per dimension.
    */
  def ivfsqIndexWrite(emb: DataFrame, idCol: String, vecCol: String,
                      indexDir: String,
                      coarseCodebook: Array[(Long, Seq[Float])],
                      mns: Array[Double], mxs: Array[Double]): Unit = {
    val centsLit = typedLit(coarseCodebook.map(_._2).toSeq)
    val idsLit = typedLit(coarseCodebook.map(_._1).toSeq)
    sqEncode(emb, idCol, vecCol, mns, mxs)
      .withColumn("centroid_id", try_element_at(
        nearest_centroids(col("v").cast("array<float>"), centsLit,
          idsLit, 1), lit(1)))
      // null (zero-norm) assignments never become index residents —
      // the forget loop's same-skip contract (see ivfIndexWriteWithCodebook)
      .filter(col("centroid_id").isNotNull)
      .select(col("id").as("cid"), col("code"), col("centroid_id"))
      .repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(indexDir)
  }

  /** Single-query search over a persisted [[ivfsqIndexWrite]] index —
    * same serving shape as [[ivfpqIndexedSearch]]: driver-computed
    * probe ids → partition-pruned code scan → ADC TakeOrdered on
    * cosine(query, float-rounded [[sqDecodeExpr]](code)) → exact
    * re-rank through the pushed shortlist filter on `rawVectors`.
    */
  def ivfsqIndexedSearch(spark: org.apache.spark.sql.SparkSession,
                         indexDir: String,
                         coarseCodebook: Array[(Long, Seq[Float])],
                         mns: Array[Double], mxs: Array[Double],
                         rawVectors: DataFrame,
                         qid: Long, qv: Seq[Float],
                         nprobe: Int, k: Int, rerank: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centsLit = typedLit(coarseCodebook.map(_._2).toSeq)
    val idsLit = typedLit(coarseCodebook.map(_._1).toSeq)
    val probes = spark.range(1).select(
        nearest_centroids(typedLit(qv), centsLit, idsLit, nprobe).as("p"))
      .head().getSeq[Long](0)
    val recon = sqDecodeExpr(col("code"), mns, mxs).cast("array<float>")
    val shortlist = spark.read.parquet(indexDir)
      .filter(col("centroid_id").isin(probes: _*))
      .filter(col("cid") =!= qid)
      .withColumn("__sim_adc", cosine_sim(typedLit(qv), recon))
      .orderBy(col("__sim_adc").desc, col("cid"))
      .limit(rerank)
      .select(col("cid"))
      .collect().map(_.getLong(0)) // bounded by design: ≤ rerank ids
    // unpartitioned window audit (r15): input is the shortlist-filtered
    // raw vectors — ≤ rerank rows by construction, corpus-size-free
    val w = Window.orderBy(col("sim_r").desc, col("cid"))
    rawVectors
      .filter(col("cid").isin(shortlist: _*))
      .withColumn("sim_r", round(cosine_sim(typedLit(qv), col("cv")), 4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(lit(qid).as("qid"), col("cid"), col("sim_r"), col("rnk"))
  }

  /** BATCH (query-fleet) search over a persisted [[ivfsqIndexWrite]]
    * index — [[ivfpqIndexedBatchSearch]]'s shape with the SQ decode
    * in the ADC stage: all queries in ONE plan, in-plan probe explode
    * over the coarse-codebook literals, equi-join on list id against
    * the (cid, SQ8 code) table read from disk (raw vectors never
    * touch the ADC stage), per-query shortlist joins the vector table
    * for the exact re-rank. Fully oracle-replayable end to end — SQ8
    * has no trained state.
    */
  def ivfsqIndexedBatchSearch(spark: org.apache.spark.sql.SparkSession,
                              indexDir: String,
                              coarseCodebook: Array[(Long, Seq[Float])],
                              mns: Array[Double], mxs: Array[Double],
                              queries: DataFrame, rawVectors: DataFrame,
                              nprobe: Int, k: Int, rerank: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centsLit = typedLit(coarseCodebook.map(_._2).toSeq)
    val idsLit = typedLit(coarseCodebook.map(_._1).toSeq)
    val probes = queries.withColumn("centroid_id",
      explode(nearest_centroids(col("qv"), centsLit, idsLit, nprobe)))
    val lists = spark.read.parquet(indexDir)
      .select(col("cid"), col("code"),
        col("centroid_id").cast("long").as("centroid_id"))
    val recon = sqDecodeExpr(col("code"), mns, mxs).cast("array<float>")
    val wApprox = Window.partitionBy(col("qid"))
      .orderBy(col("__sim_adc").desc, col("cid"))
    val shortlist = lists.join(Hints.maybeBroadcast(probes),
        Seq("centroid_id"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("__sim_adc", cosine_sim(col("qv"), recon))
      .withColumn("__arnk", row_number().over(wApprox))
      .filter(col("__arnk") <= rerank)
      .select(col("qid"), col("qv"), col("cid"))
    val wExact = Window.partitionBy(col("qid"))
      .orderBy(col("sim_r").desc, col("cid"))
    shortlist.join(rawVectors, Seq("cid"))
      .withColumn("sim_r", round(cosine_sim(col("qv"), col("cv")), 4))
      .withColumn("rnk", row_number().over(wExact))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("sim_r"), col("rnk"))
  }

  /** APPEND a delta batch to a persisted [[ivfsqIndexWrite]] index —
    * the third member of the maintenance family
    * ([[ivfIndexAppendDelta]] raw vectors, [[ivfpqIndexAppendDelta]]
    * PQ codes), sharing the crash-consistency contract verbatim
    * (durable staging → idempotent [[ivfIndexPublishStaged]] →
    * staging deleted only after success). Delta vectors are encoded
    * under the SHARED per-dimension stats and assigned under the
    * SHARED coarse quantizer — both are fit-once state: re-deriving
    * stats from base∪delta would silently re-code every stored row
    * (an affine shift in every reconstruction), exactly the re-keying
    * hazard the PQ twin documents for its codebooks. Because SQ8 has
    * no trained state beyond those 2·d doubles, the maintained index
    * remains FULLY oracle-replayable: stats, delta codes, list
    * assignment, and the served search all recompute in SQL. Cost
    * O(|delta| + rows in touched lists); untouched lists' files are
    * never read or rewritten.
    */
  def ivfsqIndexAppendDelta(spark: org.apache.spark.sql.SparkSession,
                            indexDir: String,
                            coarseCodebook: Array[(Long, Seq[Float])],
                            mns: Array[Double], mxs: Array[Double],
                            delta: DataFrame, idCol: String,
                            vecCol: String,
                            stagingDirOpt: Option[String] = None): Unit = {
    // probe emptiness first so an empty delta is a bit-level no-op
    if (delta.isEmpty) return
    val centsLit = typedLit(coarseCodebook.map(_._2).toSeq)
    val idsLit = typedLit(coarseCodebook.map(_._1).toSeq)
    val assigned = sqEncode(delta, idCol, vecCol, mns, mxs)
      .withColumn("centroid_id", try_element_at(
        nearest_centroids(col("v").cast("array<float>"), centsLit,
          idsLit, 1), lit(1)))
      .select(col("id").as("cid"), col("code"), col("centroid_id"))
    // bounded collect: one id per touched list, ≤ |codebook| by design
    val touched = assigned.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0))
    if (touched.isEmpty) return
    val staging = stagingDirOpt.getOrElse(
      indexDir.stripSuffix("/") + ".staging")
    spark.read.parquet(indexDir)
      .filter(col("centroid_id").isin(touched: _*))
      .unionByName(assigned)
      .repartition(col("centroid_id"))
      .write.mode("overwrite")
      .partitionBy("centroid_id").parquet(staging)
    ivfIndexPublishStaged(spark, indexDir, staging)
    deleteDir(spark, staging) // only after a successful publish
  }

  def sqTopK(emb: DataFrame, idCol: String, vecCol: String,
             queryPred: Column, k: Int, rerank: Int,
             mns: Array[Double], mxs: Array[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val decoded = sqDecode(sqEncode(emb, idCol, vecCol, mns, mxs), mns, mxs)
      .select(col("id").as("cid"),
        col("v_hat").cast("array<float>").as("rv"))
    val queries = emb.filter(queryPred)
      .select(col(idCol).as("qid"), col(vecCol).cast("array<float>").as("qv"))
    val wAdc = Window.partitionBy(col("qid"))
      .orderBy(col("__sim_adc").desc, col("cid"))
    val shortlist = Hints.chunkedBroadcastThetaJoin(
        Dedup.spread(decoded), queries,
        chunkKey = col("qid"), cond = col("qid") =!= col("cid"))
      .withColumn("__sim_adc", cosine_sim(col("qv"), col("rv")))
      .withColumn("__arnk", row_number().over(wAdc))
      .filter(col("__arnk") <= rerank)
      .select(col("qid"), col("qv"), col("cid"))
    val raw = emb.select(col(idCol).as("cid"),
      col(vecCol).cast("array<float>").as("cv"))
    val wExact = Window.partitionBy(col("qid"))
      .orderBy(col("sim_r").desc, col("cid"))
    shortlist.join(raw, Seq("cid"))
      .withColumn("sim_r", round(cosine_sim(col("qv"), col("cv")), 4))
      .withColumn("rnk", row_number().over(wExact))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("sim_r"), col("rnk"))
  }
}
