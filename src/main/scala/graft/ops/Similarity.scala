package graft.ops

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
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
    val lists = Dedup.spread(
        emb.select(col(idCol).as("cid"), col(vecCol).as("cv")))
      .withColumn("centroid_id",
        try_element_at(nearestLists(codebook, col("cv"), 1), lit(1)))
    val probes = emb.filter(queryPred)
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .withColumn("centroid_id",
        explode(nearestLists(codebook, col("qv"), nprobe)))
    // spreadBy(qid): satisfies the ranking window's distribution with
    // a non-AQE-coalescible exchange — the candidate scoring+ranking
    // stage otherwise lands on the 1-2 tasks byte-based coalescing
    // allots the small candidate rows (measured 0.6 s / 2 tasks,
    // cpu-bound, in ann_autotune)
    rankBatch(Dedup.spreadBy(
      lists.join(Hints.maybeBroadcast(probes), Seq("centroid_id"))
        .filter(col("qid") =!= col("cid")), col("qid")), k)
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
    val lists = Dedup.spread(
        emb.select(col(idCol).as("cid"), col(vecCol).as("cv")))
      .withColumn("centroid_id",
        try_element_at(nearestLists(codebook, col("cv"), 1), lit(1)))
    val probes = emb.filter(queryPred)
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .select(col("qid"), col("qv"),
        posexplode(nearestLists(codebook, col("qv"), nprobeMax))
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

  /** What a persisted list index stores per vector: the raw vector
    * (`cv`), a PQ code or an SQ8 code (`code`). The coarse quantizer
    * always assigns on the raw vector, so every codec puts a row in
    * the same list, and a search's only per-codec step is [[decode]].
    */
  sealed trait ListCodec {
    /** The stored column, named, for the `array<float>` vector `v`. */
    def encode(v: Column): Column
    /** The stored column back as the `array<float>` the ADC stage
      * ranks on ([[pqReconstructExpr]] / [[sqDecodeExpr]]).
      */
    def decode: Column
  }
  object ListCodec {
    case object Flat extends ListCodec {
      def encode(v: Column): Column = v.as("cv")
      def decode: Column = col("cv")
    }
    /** PQ codes (Jégou et al. TPAMI 2011) under FIT-ONCE
      * sub-codebooks: retraining on arrival would silently re-key the
      * whole index, exactly like refitting the coarse codebook.
      */
    final case class Pq(codebooks: Array[Array[Array[Float]]])
        extends ListCodec {
      def encode(v: Column): Column = pqCodeExpr(codebooks, v).as("code")
      def decode: Column = pqReconstructExpr(codebooks, col("code"))
    }
    /** SQ8 codes under FIT-ONCE per-dimension stats: re-deriving them
      * from base ∪ delta would re-code every stored row. SQ8 has no
      * trained state beyond those 2·d doubles, so an SQ index's whole
      * lifecycle replays in the DuckDB oracle.
      */
    final case class Sq(mns: Array[Double], mxs: Array[Double])
        extends ListCodec {
      def encode(v: Column): Column =
        sqCodeExpr(v.cast("array<double>"), mns, mxs).as("code")
      def decode: Column =
        sqDecodeExpr(col("code"), mns, mxs).cast("array<float>")
    }
  }

  /** Where a persisted list index puts its rows.
    *  - `ByList`: one partition dir per list (`centroid_id=C/`), so a
    *    search probing `nprobe` lists reads exactly `nprobe` dirs —
    *    partition PRUNING at the storage layer, the mechanism that
    *    makes a disk-resident ANN index sublinear.
    *  - `ByLabelGroup`: `label=L/list_grp=G/` (G = [[listGroupOf]]),
    *    each file sorted on `centroid_id`: a search constrained to
    *    label L prunes to that label's probed GROUPS by directory and
    *    to the probed lists inside each file by the row-group sort
    *    (pushed data filter), with the file count capped at
    *    |labels| × ⌈√nlist⌉ instead of |labels| × nlist. The partition
    *    columns MUST prefix the sort: the partitioned writer inserts
    *    its OWN local sort on (label, list_grp) when the incoming
    *    order doesn't match, silently discarding the centroid_id order
    *    (Round13Spec's per-file order check caught exactly this).
    * The source frame of a `ByLabelGroup` index carries a `label`
    * column; labels never change assignment.
    */
  sealed abstract class ListLayout(val parts: Seq[String],
                                   val fileOrder: Seq[String])
  object ListLayout {
    case object ByList extends ListLayout(Seq("centroid_id"), Nil)
    case object ByLabelGroup extends ListLayout(Seq("label", "list_grp"),
      Seq("label", "list_grp", "centroid_id", "cid"))
  }

  private def nearestLists(codebook: Array[(Long, Seq[Float])],
                           v: Column, n: Int): Column =
    nearest_centroids(v, typedLit(codebook.map(_._2).toSeq),
      typedLit(codebook.map(_._1).toSeq), n)

  /** THE list assignment of every persisted index — build, delta and
    * forget alike: (cid, stored column, [label,] centroid_id
    * [, list_grp]) under the SHARED coarse codebook, a scan-stage
    * argmax with zero shuffle. WHERE a row lives depends only on
    * (vector, codebook), so when it arrived cannot move it, and a
    * forget batch knows its touched lists without scanning the index.
    */
  private def listRows(src: DataFrame, idCol: String, vecCol: String,
                       codebook: Array[(Long, Seq[Float])],
                       codec: ListCodec, layout: ListLayout): DataFrame = {
    val labeled = layout == ListLayout.ByLabelGroup
    val assigned = src
      .select(Seq(col(idCol).cast("long").as("cid"),
          col(vecCol).cast("array<float>").as("__v")) ++
        (if (labeled) Seq(col("label").cast("long").as("label")) else Nil): _*)
      .withColumn("centroid_id",
        try_element_at(nearestLists(codebook, col("__v"), 1), lit(1)))
      // a zero-norm vector has NaN cosine to every centroid → null
      // list, and a null id is never matched by the forget anti-join:
      // neither is an index resident, so no write, delta or forget
      // ever sees one (a null list would land in the default
      // partition dir, beyond any forget — and break the touched
      // collect of a delta)
      .filter(col("centroid_id").isNotNull && col("cid").isNotNull)
    // rank-derived group: array_position over the codebook id literal
    // IS listGroupOf as a scan-stage expression (1-based, hence −1)
    val keyed = if (!labeled) assigned else assigned.withColumn("list_grp",
      pmod(array_position(typedLit(codebook.map(_._1).toSeq),
        col("centroid_id")) - 1, lit(listGroupCount(codebook.length).toLong)))
    keyed.select((col("cid") +: codec.encode(col("__v")) +:
      keyed.columns.toSeq.filterNot(Set("cid", "__v")).map(col)): _*)
  }

  /** The one list writer: one shuffle keyed on the layout's partition
    * columns makes each partition one file (without it every writer
    * task holds rows of ~every list and the job creates
    * O(tasks × nlist) tiny files — measured 10×: 212 s → 9 s for the
    * ann_ivf_delta double build). A pathologically hot list would
    * serialize into one task; the salting escalation (repartition on
    * (list, salt)) is the knob, deliberately not paid here. `publish`
    * overwrites only the partitions `rows` hold (dynamic partition
    * overwrite); otherwise `dir` is replaced whole.
    */
  private def writeLists(rows: DataFrame, layout: ListLayout, dir: String,
                         publish: Boolean): Unit = {
    val placed = rows.repartition(layout.parts.map(col): _*)
    val ordered =
      if (layout.fileOrder.isEmpty) placed
      else placed.sortWithinPartitions(layout.fileOrder.map(col): _*)
    val w = ordered.write.mode("overwrite")
    (if (publish) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy(layout.parts: _*).parquet(dir)
  }

  /** PERSIST a list index built under `codebook` — the
    * index-build-once / search-many shape a serving tier uses (the
    * in-plan equi-join variant is [[ivfTopK]]). Base build and every
    * later merge must assign under the SAME codebook or list
    * membership drifts between the stored lists and the probe
    * computation. Assignment runs in `emb`'s own partitioning: a
    * caller whose corpus arrives as one parquet partition spreads it
    * first ([[Dedup.spread]]). Size the codebook with
    * [[sampledCodebook]] at [[sqrtStride]] of a corpus COUNT, so nlist
    * tracks 4·√n and the build stays O(n^1.5) — a fixed stride makes
    * nlist ∝ n and the build quadratic.
    */
  def ivfIndexWrite(emb: DataFrame, idCol: String, vecCol: String,
                    indexDir: String, codebook: Array[(Long, Seq[Float])],
                    codec: ListCodec, layout: ListLayout): Unit =
    writeLists(listRows(emb, idCol, vecCol, codebook, codec, layout),
      layout, indexDir, publish = false)

  /** DERIVE a persisted index from an EXISTING one by restricting its
    * stored rows — the cheap way to stand up a second index instance
    * over the same corpus (a forget/delta test bed, a tenant subset, a
    * staging copy): list membership depends only on (vector,
    * codebook), so filtering the stored rows produces bit-identical
    * content to re-encoding + re-assigning the same subset from raw
    * vectors, WITHOUT the assignment argmax (O(n·nlist·d)) or any
    * encode. Whatever columns the list rows hold are carried. At
    * 100 TB this is a parquet filter-copy instead of a rebuild.
    */
  def ivfIndexDerive(spark: org.apache.spark.sql.SparkSession,
                     srcDir: String, dstDir: String, keep: Column,
                     layout: ListLayout): Unit =
    writeLists(spark.read.parquet(srcDir).filter(keep), layout, dstDir,
      publish = false)

  /** MERGE a batch into a persisted index: append it (`forget` =
    * false) or delete its ids (`forget` = true) — the maintenance loop
    * a serving tier runs instead of rebuilding from history (the
    * `minhash_incremental` precedent at the storage layer; the
    * right-to-be-forgotten path at the index layer). The batch is
    * assigned by [[listRows]], so the touched partitions are known
    * without scanning the index; each is rewritten as existing rows
    * ∪ batch, or existing rows ANTI-JOIN batch ids. Cost O(|batch| +
    * rows in touched partitions); untouched partitions' files are
    * never read or rewritten. An empty batch (or one of zero-norm
    * vectors only) touches nothing and leaves the index bit-untouched.
    *
    * CRASH CONSISTENCY (stage → publish → clean): [[ivfIndexStage]]
    * writes the merged partitions to `<indexDir>.staging` — RELIABLE
    * storage, not executor-local checkpoint blocks, which an executor
    * loss during the overwrite would drop while the touched lists are
    * already half-replaced — and only reads the index; then
    * [[ivfIndexPublish]] overwrites them into the index. A crash
    * before publish leaves the index bit-identical to the old state; a
    * crash DURING publish can leave a touched partition old, merged,
    * or momentarily absent (Spark's dynamic-overwrite commit deletes a
    * partition dir before renaming its replacement in), but the
    * staged copy survives and publish is IDEMPOTENT, so recovery is
    * "re-run publish until it succeeds, then delete the staging dir" —
    * or re-run the merge itself. The staging dir is deleted ONLY after
    * a successful publish; `IvfIndexSpec` injects both crash windows.
    *
    * The coarse quantizer (and a PQ codec's sub-codebooks) retain any
    * sampled vector VALUES they were fit on; refreshing them is a
    * rebuild-time decision (re-keying every list), not a per-delete
    * one — the privacy boundary of forget, made explicit.
    */
  def ivfIndexMerge(spark: org.apache.spark.sql.SparkSession,
                    indexDir: String,
                    codebook: Array[(Long, Seq[Float])], codec: ListCodec,
                    layout: ListLayout, batch: DataFrame, idCol: String,
                    vecCol: String, forget: Boolean): Unit = {
    val staging = indexDir.stripSuffix("/") + ".staging"
    val touched = ivfIndexStage(spark, indexDir, staging, codebook, codec,
      layout, batch, idCol, vecCol, forget)
    if (touched.nonEmpty) {
      ivfIndexPublish(spark, indexDir, staging, layout, touched)
      deleteDir(spark, staging) // only after a successful publish
    }
  }

  /** Stage half of [[ivfIndexMerge]]: write the MERGED form of every
    * partition the batch touches to `stagingDir`, a durable parquet
    * table in the index's layout. The index is only READ — a crash
    * anywhere in here leaves it bit-identical. Returns the touched
    * partitions' values (layout order; empty ⇒ nothing staged). The
    * forget ids stay distributed: the anti-join broadcasts them only
    * while their ESTIMATE fits the bound ([[Hints.maybeBroadcast]]), so
    * a corpus-sized forget batch falls back to a shuffled join rather
    * than an inlined In-list on the driver.
    */
  def ivfIndexStage(spark: org.apache.spark.sql.SparkSession,
                    indexDir: String, stagingDir: String,
                    codebook: Array[(Long, Seq[Float])], codec: ListCodec,
                    layout: ListLayout, batch: DataFrame, idCol: String,
                    vecCol: String, forget: Boolean): Seq[Seq[Long]] = {
    val rows = listRows(batch, idCol, vecCol, codebook, codec, layout)
    // the only driver collect: one row per touched partition —
    // ≤ |codebook|, or ≤ |labels| × ⌈√nlist⌉, by construction
    val touched = rows.select(layout.parts.map(col): _*).distinct()
      .collect().map(r => layout.parts.indices.map(r.getLong)).toSeq
    if (touched.nonEmpty) {
      val lists = spark.read.parquet(indexDir).filter(layout.parts match {
        case Seq(p) => col(p).isin(touched.map(_.head): _*)
        case parts => touched.map(vs => parts.zip(vs)
          .map { case (p, v) => col(p) === v }.reduce(_ && _)).reduce(_ || _)
      })
      val merged =
        if (forget) lists.join(Hints.maybeBroadcast(rows.select(col("cid"))),
          Seq("cid"), "left_anti")
        else lists.unionByName(rows)
      writeLists(merged, layout, stagingDir, publish = false)
    }
    touched
  }

  /** Publish half of [[ivfIndexMerge]]: dynamic partition overwrite of
    * the staged partitions into the index, reading ONLY the staging
    * dir (the index is never both read and overwritten in one job).
    * A touched partition absent from staging was emptied by a forget,
    * which dynamic overwrite cannot express: its dir, and a parent dir
    * it leaves empty (a `label=L` with no group), are deleted after
    * the overwrite. IDEMPOTENT — re-running converges to the same
    * index after any partial failure.
    */
  def ivfIndexPublish(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String, stagingDir: String,
                      layout: ListLayout, touched: Seq[Seq[Long]]): Unit = {
    val root = new org.apache.hadoop.fs.Path(stagingDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partDirs(p: org.apache.hadoop.fs.Path, depth: Int): Seq[String] =
      fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap { s =>
          val name = s.getPath.getName
          if (depth == 1) Seq(name)
          else partDirs(s.getPath, depth - 1).map(rest => s"$name/$rest")
        }
    val staged = partDirs(root, layout.parts.size).toSet
    if (staged.nonEmpty)
      writeLists(spark.read.parquet(stagingDir), layout, indexDir,
        publish = true)
    val index = new org.apache.hadoop.fs.Path(indexDir)
    touched.map(vs => layout.parts.zip(vs)
        .map { case (p, v) => s"$p=$v" }.mkString("/"))
      .filterNot(staged).foreach { rel =>
        var dir = new org.apache.hadoop.fs.Path(index, rel)
        fs.delete(dir, true)
        dir = dir.getParent
        while (dir != index && fs.exists(dir) && fs.listStatus(dir).isEmpty) {
          fs.delete(dir, true)
          dir = dir.getParent
        }
      }
  }

  private def deleteDir(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

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

  /** The query's `nprobe` list ids: the assignment kernel evaluated
    * on a 1-row frame (driver-side, k·d floats).
    */
  private def probeIds(spark: org.apache.spark.sql.SparkSession,
                       codebook: Array[(Long, Seq[Float])],
                       qv: Seq[Float], nprobe: Int): Seq[Long] =
    spark.range(1).select(nearestLists(codebook, typedLit(qv), nprobe))
      .head().getSeq[Long](0)

  /** Exact top-`k` of ONE query over candidate (cid, cv) rows. The
    * unpartitioned window (r15 audit): the rnk <= k filter compiles
    * to WindowGroupLimit, so each scan partition forwards at most k
    * rows to the single-partition sort — bounded by k·|scan
    * partitions| at any corpus size, never by list occupancy.
    */
  private def rankOne(rows: DataFrame, qid: Long, qv: Seq[Float],
                      k: Int): DataFrame =
    rows.withColumn("sim_r", round(cosine_sim(typedLit(qv), col("cv")), 4))
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("sim_r").desc, col("cid"))))
      .filter(col("rnk") <= k)
      .select(lit(qid).as("qid"), col("cid"), col("sim_r"), col("rnk"))

  /** Exact top-`k` per query over (qid, qv, cid, cv) candidates. */
  private def rankBatch(cands: DataFrame, k: Int): DataFrame =
    cands.withColumn("sim_r", round(cosine_sim(col("qv"), col("cv")), 4))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("sim_r").desc, col("cid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("sim_r"), col("rnk"))

  /** Single-query EXACT search over a `Flat` list index: the query's
    * `nprobe` list ids are inlined as an IN filter, so the scan reads
    * ONLY those partitions (`PartitionFilters`, PlanSpec-pinned), then
    * the probed rows re-rank exactly to top-`k`. On a `ByLabelGroup`
    * index, `qlabel` = Some(L) makes the label and the probed lists'
    * GROUPS partition filters too (the scan opens ≤ min(nprobe,
    * √nlist) group files of the query's label) while the list ids ride
    * as the pushed data filter the row-group sort turns into page
    * skipping — filtered ANN's storage-layer face.
    */
  def ivfIndexedSearch(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String,
                       codebook: Array[(Long, Seq[Float])],
                       qid: Long, qlabel: Option[Long], qv: Seq[Float],
                       nprobe: Int, k: Int): DataFrame = {
    val probes = probeIds(spark, codebook, qv, nprobe)
    val lists = col("centroid_id").isin(probes: _*)
    val scope = qlabel.fold(lists)(l => col("label") === l &&
      col("list_grp").isin(probes.map(listGroupOf(codebook, _)).distinct: _*) &&
      lists)
    rankOne(spark.read.parquet(indexDir).filter(scope)
      .filter(col("cid") =!= qid), qid, qv, k)
  }

  /** BATCH (query-fleet) filtered search over a `Flat` `ByLabelGroup`
    * index: every query probes under ITS OWN label in one plan — probe
    * rows are (qid, qlabel, probed list) keys and the stored lists
    * join on (label, centroid_id), so the label predicate rides the
    * equi-join exactly as in the in-plan operator. A fleet spanning
    * every label reads every label's partitions (pruning is the
    * point-query win); what the batch buys is one scan + one join for
    * the whole fleet instead of |Q| pruned jobs.
    */
  def ivfIndexedBatchSearchLabeled(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String, codebook: Array[(Long, Seq[Float])],
      queries: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val probes = queries
      .select(col("qid"), col("qlabel").cast("long").as("label"),
        col("qv"))
      .withColumn("centroid_id",
        explode(nearestLists(codebook, col("qv"), nprobe)))
    rankBatch(spark.read.parquet(indexDir)
      .select(col("cid"), col("cv"), col("label").cast("long"),
        col("centroid_id").cast("long"))
      .join(Hints.maybeBroadcast(probes), Seq("label", "centroid_id"))
      .filter(col("qid") =!= col("cid")), k)
  }

  /** The ADC stage of [[ivfAdcSearch]] as a frame (shortlist cids,
    * ranked on cosine(query, decoded code)): a TakeOrdered over the
    * probed code partitions with the same tie order as the batch
    * window (sim DESC, cid). Split out so `IvfIndexSpec` can pin the
    * plan — the probed list ids must land in the scan's
    * `PartitionFilters`, and the stage touches no raw vectors.
    */
  def ivfAdcFrame(spark: org.apache.spark.sql.SparkSession,
                  indexDir: String, codec: ListCodec,
                  qid: Long, qv: Seq[Float],
                  probes: Seq[Long], rerank: Int): DataFrame =
    spark.read.parquet(indexDir)
      .filter(col("centroid_id").isin(probes: _*))
      .filter(col("cid") =!= qid)
      .withColumn("__sim_adc", cosine_sim(typedLit(qv), codec.decode))
      .orderBy(col("__sim_adc").desc, col("cid"))
      .limit(rerank)
      .select(col("cid"))

  /** Single-query search over a PQ or SQ list index — IVFADC+R
    * against STORED codes: partition-pruned ADC over the probed lists
    * ([[ivfAdcFrame]]) to a `rerank`-deep shortlist (bounded driver
    * collect), then the exact re-rank reads raw vectors through an
    * `isin(shortlist)` filter PUSHED INTO the vector scan — raw
    * vectors beyond the shortlist are never deserialized (PlanSpec
    * pins the PushedFilters). `rawVectors` = (cid, cv) of the corpus
    * the index was built from.
    */
  def ivfAdcSearch(spark: org.apache.spark.sql.SparkSession,
                   indexDir: String, coarse: Array[(Long, Seq[Float])],
                   codec: ListCodec, rawVectors: DataFrame,
                   qid: Long, qv: Seq[Float],
                   nprobe: Int, k: Int, rerank: Int): DataFrame = {
    val shortlist = ivfAdcFrame(spark, indexDir, codec, qid, qv,
        probeIds(spark, coarse, qv, nprobe), rerank)
      .collect().map(_.getLong(0)).toSeq // bounded: ≤ rerank ids
    rankOne(rawVectors.filter(col("cid").isin(shortlist: _*)), qid, qv, k)
  }

  /** BATCH (query-fleet) search over a PQ or SQ list index — the mode
    * a serving tier runs between point lookups and rebuilds: ALL
    * queries in ONE plan, probe lists exploded in-plan over the coarse
    * codebook literals, candidates an EQUI-join on list id against the
    * code table read from disk, and only the per-query `rerank`
    * shortlist joins `rawVectors` — [[ivfpqTopK]]'s two-stage shape
    * with the encode step replaced by the index read.
    * `queries` = (qid, qv float[]); `rawVectors` = (cid, cv float[]).
    */
  def ivfAdcBatchSearch(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String,
                        coarse: Array[(Long, Seq[Float])], codec: ListCodec,
                        queries: DataFrame, rawVectors: DataFrame,
                        nprobe: Int, k: Int, rerank: Int): DataFrame =
    adcTopK(
      // partition-dir inference reads the list id back as INT —
      // normalize for the equi-join against the long probe ids
      spark.read.parquet(indexDir)
        .withColumn("centroid_id", col("centroid_id").cast("long")),
      queries.withColumn("centroid_id",
        explode(nearestLists(coarse, col("qv"), nprobe))),
      codec.decode, rawVectors, k, rerank)

  /** IVFADC+R over (cid, code, centroid_id) `lists` and (qid, qv,
    * centroid_id) `probes`: stage 1 ranks the probed lists on the
    * decoded codes — corpus vectors never touched; stage 2 (+R,
    * Jégou et al. §V) fetches raw vectors for the |Q|·rerank shortlist
    * ONLY and ranks those exactly, so the recall lost to quantization
    * noise comes back without scanning full-precision vectors beyond
    * the shortlist join.
    */
  private def adcTopK(lists: DataFrame, probes: DataFrame, decode: Column,
                      raw: DataFrame, k: Int, rerank: Int): DataFrame = {
    val shortlist = lists.join(Hints.maybeBroadcast(probes),
        Seq("centroid_id"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("__sim_adc", cosine_sim(col("qv"), decode))
      .withColumn("__arnk", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("__sim_adc").desc, col("cid"))))
      .filter(col("__arnk") <= rerank)
      .select(col("qid"), col("qv"), col("cid"))
    rankBatch(shortlist.join(raw, Seq("cid")), k)
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
    // fused training: all m sub-codebooks advance in lock-step with
    // ONE corpus scan per Lloyd action (KmeansMultiSpec pins the
    // result to m independent trainings) — at 100 TB this replaces
    // m·iters·2 corpus reads with iters·2, and retires the concurrent
    //-futures scheduling this used to need to hide the m job chains
    val codebooks = codebooksOpt.getOrElse(
      kmeansTrainMulti(emb, idCol, vecCol, m, k, iters)._1)
    val base = Dedup.spread(emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<float>").as("v")))
    (base.withColumn("code", pqCodeExpr(codebooks, col("v"))), codebooks)
  }

  /** PQ encode expression: each subspace slice's nearest sub-centroid
    * index (codebooks ride as literals) — the ONE definition of
    * vector→code shared by [[pqEncode]] and the PQ list index.
    */
  private def pqCodeExpr(codebooks: Array[Array[Array[Float]]],
                         v: Column): Column = {
    val sub = codebooks.head.head.length
    array(codebooks.indices.map { j =>
      try_element_at(nearest_centroids(slice(v, j * sub + 1, sub),
        typedLit(codebooks(j).map(_.toSeq).toSeq),
        typedLit(codebooks(j).indices.map(_.toLong)), 1), lit(1))
    }: _*)
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
    val codebook = sampledCodebook(emb, idCol, vecCol, centroidEvery,
      maxCentroids)
    val (encoded, cbs) =
      pqEncode(emb, idCol, vecCol, m, kSub, pqIters, pqCodebooksOpt)
    // the searchable index: ids, list assignment, codes — NO vectors
    val lists = encoded
      .withColumn("centroid_id",
        try_element_at(nearestLists(codebook, col("v"), 1), lit(1)))
      .select(col("id").as("cid"), col("code"), col("centroid_id"))
    val probes = emb.filter(queryPred)
      .select(col(idCol).as("qid"), col(vecCol).cast("array<float>").as("qv"))
      .withColumn("centroid_id",
        explode(nearestLists(codebook, col("qv"), nprobe)))
    adcTopK(lists, probes, pqReconstructExpr(cbs, col("code")),
      emb.select(col(idCol).as("cid"),
        col(vecCol).cast("array<float>").as("cv")), k, rerank)
  }

  /** PQ decode expression: concatenate each code cell's chosen
    * sub-centroid (codebooks ride as literals). The ONE definition of
    * code→vector shared by [[pqReconstructionSim]] and every PQ ADC
    * stage ([[ivfpqTopK]], [[ListCodec.Pq]]) — two copies could
    * silently diverge (e.g. the +1 index bias) and make ranking
    * reconstruct different vectors than the quality gate measures.
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
    emb.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("code", sqCodeExpr(col("v"), mns, mxs))
  }

  /** The ONE definition of SQ8 vector (`array<double>`) → code,
    * shared by [[sqEncode]] and the SQ list index.
    */
  private def sqCodeExpr(v: Column, mns: Array[Double],
                         mxs: Array[Double]): Column = {
    val mnLit = typedLit(mns.toSeq)
    val mxLit = typedLit(mxs.toSeq)
    transform(v, (x, i) => {
      val mn = element_at(mnLit, (i + 1).cast("int"))
      val mx = element_at(mxLit, (i + 1).cast("int"))
      when(mx === mn, lit(0L)).otherwise(
        least(lit(255L), greatest(lit(0L),
          floor(((x - mn) * lit(255.0)) / (mx - mn) + lit(0.5)))))
    })
  }

  /** SQ8 dequantization x̂_i = mn_i + q_i·(mx_i − mn_i)/255 — the
    * reconstruction half used by the quantization-error gate.
    */
  def sqDecode(encoded: DataFrame, mns: Array[Double],
               mxs: Array[Double]): DataFrame =
    encoded.withColumn("v_hat", sqDecodeExpr(col("code"), mns, mxs))

  /** The ONE definition of SQ8 code → vector, shared by [[sqDecode]],
    * [[sqTopK]]'s ADC leg, and [[ListCodec.Sq]] — two copies
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
  def sqTopK(emb: DataFrame, idCol: String, vecCol: String,
             queryPred: Column, k: Int, rerank: Int,
             mns: Array[Double], mxs: Array[Double]): DataFrame = {
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
    rankBatch(shortlist.join(emb.select(col(idCol).as("cid"),
      col(vecCol).cast("array<float>").as("cv")), Seq("cid")), k)
  }
}
