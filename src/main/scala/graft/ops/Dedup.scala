package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.CollectMetricsExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftColumnShim

import graft.functions.dsl._

/** Deduplication operators for large-scale training-data pipelines:
  * exact, MinHash+LSH, SimHash, and windowed n-gram Jaccard.
  *
  * Scale design (the point of each choice):
  *  - Exact dedup is one hash-aggregate: map-side partial agg on the
  *    digest, single shuffle, no text comparison after the hash.
  *  - MinHash/SimHash signatures are computed per-row in whole-stage
  *    codegen (custom expressions, [[graft.functions]]): the 100 TB
  *    corpus is never compared pairwise — candidate generation is one
  *    grouped aggregate on the LSH band key ([[Dedup.keyPairs]]), so the
  *    shuffle carries (band, id) rows, not documents, and a hot bucket
  *    can split into salted tiles.
  *  - Pair verification joins candidates back to the shingle sets by
  *    id (broadcast-able at the candidate side), never re-reading text.
  */
object Dedup {

  /** Spread a (possibly single-partition) input across the session's
    * shuffle parallelism before compute-heavy per-row work. Small
    * parquet inputs arrive as one partition; without this every
    * signature/shingle computation runs on one core. At real scale
    * the source is already multi-partition and this is a cheap no-op
    * rebalance. `df.rdd` would register a SQL execution of its own
    * just to report the count its physical RDD already has.
    */
  def spread(df: DataFrame): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    if (df.queryExecution.toRdd.getNumPartitions >= n) df else df.repartition(n)
  }

  /** [[spread]] for CPU-dense intermediates that sit BEHIND a shuffle:
    * an unconditional round-robin repartition to the session's shuffle
    * parallelism. Rationale: AQE coalesces post-shuffle partitions by
    * BYTES (floor `coalescePartitions.minPartitionSize`, 1 MB), which
    * is the right proxy for shuffle-bound stages but serializes stages
    * whose per-byte CPU cost is extreme — a few hundred KB of
    * candidate pairs here fans out into 16 vector-kernel evaluations
    * per row, so AQE's "one task is enough for this little data" runs
    * ~1 s of kernel CPU on one core (measured: maxsim_ivf's re-rank
    * stage, 1 task, cpu ≈ wall ≈ 0.93 s). The static [[spread]] check
    * can't help: pre-AQE the plan already claims the full shuffle
    * partition count. The exchange this inserts carries only the tiny
    * candidate rows; at real scale the same tables are large enough
    * that repartitioning to the session's (cluster-sized) shuffle
    * parallelism is what you'd do anyway.
    */
  def spreadEager(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt)

  /** [[spreadEager]] keyed: hash-repartition on `cols` at the
    * session's shuffle parallelism. Placed before a window/aggregate
    * partitioned by the same keys it SATISFIES that operator's
    * required distribution — no second exchange — while the explicit
    * partition count (REPARTITION_BY_NUM) keeps AQE from
    * byte-coalescing the CPU-dense ranking stage down to 1-2 tasks
    * (the [[spreadEager]] rationale, for keyed stages).
    */
  def spreadBy(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt, cols: _*)

  /** Eagerly compute `df` into executor-local storage and truncate its
    * lineage (`localCheckpoint`). Used to pin the SMALL output of a
    * pipeline stage (candidate pairs, cluster labels) so the LARGE
    * upstream cache (signature/fingerprint tables over the full corpus)
    * can be released immediately instead of leaking for the session —
    * the round-2 bench regression was exactly such leaked
    * MEMORY_AND_DISK frames piling up. On a multi-tenant cluster swap
    * `localCheckpoint` for a reliable `checkpoint` dir (localCheckpoint
    * partitions die with their executor); the blocks here are reclaimed
    * by the ContextCleaner once the frame is unreferenced.
    * The returned frame's size is the bytes its blocks hold ([[Hints]]).
    */
  def materialize(df: DataFrame): DataFrame = materializeObserved(df)._1

  /** Eagerly [[materialize]] `df` and return every aggregate in
    * `metrics` measured DURING the checkpoint job (an
    * [[org.apache.spark.sql.Observation]]: CollectMetrics rides the
    * plan as a pass-through, same rows) instead of as its own
    * scan+action afterwards (guide §1.2: remove passes).
    *
    * PLACEMENT CONSTRAINT (measured): under AQE a CollectMetrics below
    * an exchange never delivers (the stage is re-planned and the
    * registered accumulator is rebuilt; the Observation then returns
    * zeros or an empty map). The metrics attach at the TOP of the plan;
    * a plan with an observer below an exchange throws before it runs,
    * an observation that lacks a requested metric after it.
    */
  def materializeObserved(df: DataFrame, metrics: Column*)
      : (DataFrame, Map[String, Any]) = {
    val obs = new org.apache.spark.sql.Observation()
    val observed =
      if (metrics.isEmpty) df else df.observe(obs, metrics.head, metrics.tail: _*)
    requireFinalStageObservers(observed)
    val cp = GraftColumnShim.sizedLeaf(observed.localCheckpoint(eager = true), None)
    val m = if (metrics.isEmpty) Map.empty[String, Any] else obs.get
    if (m.size != metrics.size)
      throw new IllegalStateException(s"observation returned ${m.keys.mkString(", ")} " +
        s"for the requested metrics ${metrics.mkString(", ")}")
    (cp, m)
  }

  private def requireFinalStageObservers(df: DataFrame): Unit =
    df.queryExecution.executedPlan match {
      case aqe: AdaptiveSparkPlanExec =>
        val hidden = aqe.executedPlan.collect { case e: Exchange => e }
          .flatMap(_.collect { case m: CollectMetricsExec => m.name })
        if (hidden.nonEmpty)
          throw new IllegalStateException(
            s"observation ${hidden.distinct.mkString(", ")} sits below an " +
              "exchange, where AQE drops its metrics; observe the frame " +
              "after the shuffle, at the top of the plan")
      case _ =>
    }

  /** Lowercased word tokens, empty tokens removed — the native kernel
    * form of `filter(split(lower(text), "\\W+"), len > 0)` (the HOF
    * chain is interpreted with per-element boxing; this is one byte
    * pass feeding the explode-based vocabulary/TF-IDF aggregations).
    */
  def tokens(text: Column): Column = tokens_lower(text)

  /** SORTED distinct hashes of word `n`-gram shingles, via the native
    * [[graft.functions.ShingleSetExpr]] kernel: the HOF chain
    * (split → transform → slice → concat_ws → xxhash64) is interpreted
    * with per-element boxing (~1 ms/row measured at sf0.1); the kernel
    * does one pass over the UTF8 bytes (~µs/row).
    */
  def shingleHashes(text: Column, n: Int): Column =
    shingle_set(text, n)

  /** Distinct word `n`-gram shingles as STRINGS — the un-hashed twin
    * of [[shingleHashes]] for operators whose downstream arithmetic
    * (e.g. [[prefixJaccardPairs]]' global df-ordered prefix ranks)
    * must replay verbatim in an external engine: string shingles
    * order bytewise identically everywhere, where the xxhash64 values
    * would force the oracle to replay the hash chain too. Fewer than
    * `n` tokens → empty set (no full shingle), matching the kernel.
    */
  def shingleStrings(text: Column, n: Int): Column = {
    val tok = tokens(text)
    when(size(tok) >= n,
      array_distinct(transform(sequence(lit(0), size(tok) - n),
        i => concat_ws(" ", slice(tok, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact dedup: group by a digest of the dedup key, keep the lowest
    * id as the canonical representative. One shuffle on the digest.
    */
  def exactDedup(df: DataFrame, idCol: String, keyCol: Column): DataFrame =
    df.groupBy(md5(keyCol.cast("binary")).as("key_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** The one grouped aggregate behind every key-pair set: one row per
    * key of `rows` with its ids, sorted, as `ids`. A self-join on the
    * key never pairs a NULL key, so those rows drop out before the
    * aggregate; `collect_list` skips NULL ids, which never pair either.
    * A bucket of more than `maxBucketSize` ids drops out whole (the
    * O(bucket²) guard), and so does one too small to hold a pair.
    */
  private def buckets(rows: DataFrame, keys: Seq[String],
                      maxBucketSize: Int): DataFrame =
    rows.filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize))

  /** A tile: the pairs between the ids of `l` and those of `r`. On the
    * diagonal `l` and `r` are the same sorted array and only the pairs
    * (i < j) of it count. `carry` rides along to each pair. */
  private def tile(l: Column, r: Column, diagonal: Boolean, carry: Column*): Column =
    struct(Seq(l.as("l"), r.as("r"), lit(diagonal).as("diag")) ++ carry: _*)

  /** The pair generator over a frame of tiles (`l`, `r`, `diag`, plus the
    * `carry` columns): every (a, b) with a from `l` and b from `r`, or
    * from after a on the diagonal, and a ≠ b, as (least, greatest). Two
    * streaming explodes: the most a task holds is its tile's arrays and
    * one slice of `r`, O(m) for a bucket of m ids, never the m²/2 pairs.
    */
  private def tilePairs(tiles: DataFrame, carry: String*): DataFrame = {
    val kept = carry.map(col)
    tiles.select(kept ++ Seq(col("r"), col("diag"),
        posexplode(col("l")).as(Seq("__i", "__a"))): _*)
      .select(kept ++ Seq(col("__a"), explode(slice(col("r"),
        when(col("diag"), col("__i") + 2).otherwise(1), size(col("r")))).as("__b")): _*)
      .filter(col("__a") =!= col("__b"))
      .select(Seq(least(col("__a"), col("__b")).as("id_a"),
        greatest(col("__a"), col("__b")).as("id_b")) ++ kept: _*)
  }

  /** All `(id_a < id_b)` pairs of ids that share a value of `keys` in
    * `rows` — ONE output row per key match, exactly the multiset a
    * self-equi-join on `keys` with `a.id < b.id` returns (callers then
    * `distinct` or count matches per pair). Buckets of more than
    * `maxBucketSize` ids are dropped.
    *
    * One grouped aggregate collects each bucket's ids once; a bucket is
    * one diagonal tile that [[tilePairs]] expands, in O(m) memory. The
    * scale problem salting solves: a bucket of m ids (shared
    * boilerplate in LSH; a ubiquitous fingerprint) puts all m²/2 pair
    * work in the ONE task that holds its row. With `salt` = s, a bucket
    * of more than `hotThreshold` ids splits by a deterministic per-id
    * salt into s groups and becomes the s·(s+1)/2 (lo, hi) tiles of
    * those groups, which a round-robin exchange spreads over the
    * session's tasks, each with (m/s)² of the work or less. A pair
    * whose salts are (α, β) sits in tile (min, max) only, so the salted
    * output EXACTLY equals the plain one, which DedupSpec pins.
    * Defaults leave salting off; production turns it on for the
    * boilerplate-heavy corpora SCALE.md names.
    */
  def keyPairs(rows: DataFrame, keys: Seq[String],
               hotThreshold: Int = Int.MaxValue, salt: Int = 1,
               maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val ids = col("ids")
    val bucketed = buckets(rows, keys, maxBucketSize)
    if (salt <= 1 || hotThreshold == Int.MaxValue)
      tilePairs(bucketed.select(tile(ids, ids, diagonal = true).as("t")).select("t.*"))
    else {
      val groups = bucketed.select(ids, when(size(ids) > hotThreshold,
        transform(sequence(lit(0), lit(salt - 1)),
          j => filter(ids, x => pmod(hash(x), lit(salt)) === j))).as("g"))
      val grid = for (lo <- 0 until salt; hi <- lo until salt)
        yield tile(col("g")(lo), col("g")(hi), lo == hi)
      val tiles = groups.select(explode(when(col("g").isNotNull, array(grid: _*))
        .otherwise(array(tile(ids, ids, diagonal = true)))).as("t")).select("t.*")
      tilePairs(spreadEager(tiles))
    }
  }

  /** Bytes of one (id_a, id_b, sh_a) row, the outer verification
    * join's build side: Spark's row width counts one array element,
    * this 64 hashes per set (sf0.1 mean: 52). The gate: ≈125k pairs.
    */
  private val CandidateShingleRowBytes: Long = 8L + 8L + 8L + 8L * 64

  /** Attach both endpoints' shingle sets to a candidate pair table —
    * the LSH verification join, with both joins building on the
    * candidate side when it fits (r15, guide §2.3 / §3.1): the shingle
    * table, the FATTEST rows in the pipeline, is then probed in place
    * off its cache instead of exchanged by id_a and again by id_b. The
    * outer side (candidates with `sh_a`) is bounded by the candidate
    * count. Over a bound that join shuffles, with identical results.
    */
  private def verifyJoin(candidates: DataFrame, sets: DataFrame): DataFrame = {
    val (candM, m) = materializeObserved(candidates, count(lit(1)).as("__n"))
    val setsA = sets.withColumnsRenamed(Map("id" -> "id_a", "sh" -> "sh_a"))
    val setsB = sets.withColumnsRenamed(Map("id" -> "id_b", "sh" -> "sh_b"))
    Hints.maybeBroadcast(Hints.maybeBroadcast(candM).join(setsA, "id_a"),
        m("__n").asInstanceOf[Long], CandidateShingleRowBytes)
      .join(setsB, "id_b")
  }

  /** The (id, sh, sig) MinHash signature table — the shared first
    * stage of [[minhashPairs]] and [[minhashPairsIncremental]]. Caller
    * persists if it feeds >1 consumer.
    */
  private[graft] def signatureTable(df: DataFrame, idCol: String,
                                    textCol: String, shingleN: Int,
                                    numHashes: Int): DataFrame =
    spread(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), shingleHashes(col("__text"), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhash_sig(col("sh"), numHashes))

  /** (id, band_idx, band_hash) band rows of a signature table — band
    * key = murmur3 over the band's slice of the signature. ONE
    * definition so the operator and any bucket diagnostics can never
    * disagree on the banding.
    */
  private[graft] def bandRows(base: DataFrame, bands: Int,
                              rowsPerBand: Int): DataFrame =
    base.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
        .as(Seq("band_idx", "band_hash")))

  private val BandKeys = Seq("band_idx", "band_hash")

  /** MinHash + banded LSH near-duplicate pairs.
    *
    * numHashes = bands * rowsPerBand. Docs sharing ≥1 band bucket are
    * candidates; candidates are verified with exact Jaccard over the
    * shingle-hash sets and kept when ≥ `threshold`. The candidates are
    * [[keyPairs]] on (band_idx, band_hash): one grouped aggregate
    * collects each bucket's ids, the bucket cap reads the array's
    * length, and a streaming generator emits the pairs.
    *
    * `maxBucketSize` caps LSH bucket membership: a bucket with more
    * than this many docs (shared boilerplate) would contribute
    * O(bucket²) candidate pairs; production dedup drops or routes
    * such buckets to a dedicated clustering pass. Default is high
    * enough to be inactive on the test corpus.
    *
    * `hotBucketThreshold`/`hotBucketSalt` turn on [[keyPairs]]'s salted
    * tiles for buckets UNDER the drop cap but big enough to pin one
    * task (the documented escalation between "fine" and "drop the
    * bucket"). Result-invariant vs the unsalted path (DedupSpec pins
    * it); off by default. `requireHotEngagement`: when salting is on,
    * assert that at least one bucket exceeds `hotBucketThreshold`, so a
    * corpus regen that removes every hot bucket fails the salted query
    * LOUDLY instead of silently degrading it to one tile per bucket.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, exact distinct.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 8,
                   threshold: Double = 0.7,
                   maxBucketSize: Int = 10000,
                   hotBucketThreshold: Int = Int.MaxValue,
                   hotBucketSalt: Int = 1,
                   requireHotEngagement: Boolean = false): DataFrame = {
    val numHashes = bands * rowsPerBand
    // sh is sorted+distinct (kernel guarantee) → verification is a
    // linear merge. The signature table feeds three consumers (band
    // explode + both sides of the verification join); persist it so
    // text is shingled once, not three times — at scale this is the
    // "materialize the signature table" step of any LSH pipeline.
    val base = signatureTable(df, idCol, textCol, shingleN, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // unpersist in finally: ANY escaping failure (engagement throw,
    // executor loss mid-materialize, analysis error) must release the
    // cached frame — a leaked corpus-sized cache pins memory for the
    // whole session (the round-2 bench regression's failure mode)
    try {
      val banded = bandRows(base, bands, rowsPerBand)
      if (requireHotEngagement && hotBucketThreshold != Int.MaxValue &&
          buckets(banded, BandKeys, maxBucketSize)
            .filter(size(col("ids")) > hotBucketThreshold).isEmpty)
        throw new IllegalStateException(
          s"salted minhashPairs expects at least one LSH bucket with > " +
            s"$hotBucketThreshold docs (and <= $maxBucketSize); the corpus " +
            s"has none — the escalation would go untested")

      val candidates = keyPairs(banded, BandKeys,
          hotBucketThreshold, hotBucketSalt, maxBucketSize)
        .distinct()

      val sets = base.select(col("id"), col("sh"))
      val pairs = verifyJoin(candidates, sets)
        .withColumn("jaccard", sorted_jaccard(col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
      // pin the small pair set before the finally releases the
      // corpus-sized signature cache — returning a plan that still
      // referenced `base` would leak it for the whole session
      materialize(pairs)
    } finally base.unpersist()
  }

  /** INCREMENTAL MinHash-LSH index maintenance: the near-dup pair set
    * of a corpus that grows by append, maintained by probing the
    * banded-signature INDEX with only the NEW documents — no base×base
    * pair comes from the delta leg. This is how an LSH index absorbs a
    * daily increment at 100 TB: the stored index is the banded
    * signature table bucketed by (band_idx, band_hash); the delta
    * shingles once and pairs each new id of a bucket with the bucket's
    * ids (cost ∝ |Δ| × average bucket occupancy, corpus size only
    * enters through bucket width), and appends its own band rows for
    * the next increment. Same algebra as [[graft.ops.Incremental]]'s
    * join-view maintenance: pairs(base ∪ Δ) = pairs(base) ∪ probe(Δ,
    * index) — the two legs are disjoint by construction (base pairs
    * have no delta endpoint).
    *
    * Both legs are tiles of [[keyPairs]]' bucket aggregate, fed to the
    * same generator: per bucket, the base tile is the diagonal of its
    * old ids, the delta tile its new ids against all of its ids (a
    * delta×delta pair arrives from both directions; the distinct
    * folds it).
    *
    * `deltaOf` marks the newly arrived ids (the driver query uses
    * `id % 10 = 9` as a deterministic 10% increment). The base leg is
    * recomputed here only because the harness runs one-shot queries —
    * production reads the previously materialized pair set; the delta
    * leg is byte-identical either way. Bucket caps are evaluated on
    * POST-append sizes (matching the batch operator exactly); in a
    * live view, a bucket crossing `maxBucketSize` on append would
    * retract its pairs — the same recompute-on-cap-cross policy any
    * maintained LSH view needs.
    *
    * Returns (id_a, id_b, jaccard, src) with src ∈ {base, delta}
    * naming the leg that produced the pair — the decomposition itself
    * is oracle-visible and hash-checked.
    */
  def minhashPairsIncremental(df: DataFrame, idCol: String, textCol: String,
                              deltaOf: Column => Column,
                              shingleN: Int = 3, bands: Int = 16,
                              rowsPerBand: Int = 8, threshold: Double = 0.7,
                              maxBucketSize: Int = 10000): DataFrame = {
    val base = signatureTable(df, idCol, textCol, shingleN, bands * rowsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ids = col("ids")
    val oldIds = filter(ids, x => !deltaOf(x))
    val legs = buckets(bandRows(base, bands, rowsPerBand), BandKeys, maxBucketSize)
      .select(explode(array(
        tile(oldIds, oldIds, diagonal = true, lit("base").as("src")),
        tile(filter(ids, deltaOf), ids, diagonal = false, lit("delta").as("src"))))
        .as("t"))
      .select("t.*")
    val candidates = tilePairs(legs, "src").distinct()
    val sets = base.select(col("id"), col("sh"))
    // same measured-count candidate broadcast as [[verifyJoin]] (the
    // src column rides through both joins unchanged)
    val pairs = verifyJoin(candidates, sets)
      .withColumn("jaccard", sorted_jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"), col("src"))
    val out = materialize(pairs)
    base.unpersist()
    out
  }

  /** SimHash near-duplicate pairs: the 64-bit SimHash of each text's
    * tokens, paired by [[hammingPairs]] within `maxHamming`.
    * Returns distinct (id_a, id_b, hamming) with id_a < id_b.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs(
      spread(df.select(col(idCol).as("id"), col(textCol).as("__text")))
        .select(col("id"), simhash64(token_hashes(col("__text"))).as("sig")),
      maxHamming)

  /** All pairs of `sigs` (`id`, 64-bit `sig`) within Hamming distance
    * `maxHamming`, as distinct (id_a, id_b, hamming) with id_a < id_b.
    * Candidates come from the pigeonhole bands: the 64 bits split as
    * evenly as possible into maxHamming+1 bands, and a pair within the
    * radius agrees on at least one whole band, so [[keyPairs]] on
    * (band_idx, band_val) is complete. Both signatures then attach to
    * the distinct candidates for the `bit_count(xor)` verify. A NULL
    * id or signature never pairs.
    */
  private[graft] def hammingPairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val nBands = maxHamming + 1
    require(maxHamming >= 0 && nBands <= 64, s"maxHamming must be in 0..63, got $maxHamming")
    val widths = Array.tabulate(nBands)(b => 64 / nBands +
      (if (b < 64 % nBands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val bandVals = (0 until nBands).map { b =>
      val mask = if (widths(b) == 64) -1L else (1L << widths(b)) - 1
      shiftrightunsigned(col("sig"), offsets(b)).bitwiseAND(lit(mask))
    }
    val banded = sigs.select(col("id"),
      posexplode(array(bandVals: _*)).as(Seq("band_idx", "band_val")))
    val sig = (side: String) =>
      sigs.select(col("id").as(s"id_$side"), col("sig").as(s"sig_$side"))
    keyPairs(banded, Seq("band_idx", "band_val")).distinct()
      .join(sig("a"), "id_a").join(sig("b"), "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over a near-duplicate pair set — the
    * cluster step that turns pairs into dedup groups (keep
    * `cluster_id`, drop the rest).
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): each
    * round rewrites the edge set so nodes point at ever-smaller
    * neighborhood minima; the graph contracts to per-component stars in
    * O(log²-ish) rounds — in practice a handful — independent of
    * component DIAMETER. The previous min-label-propagation loop here
    * needed O(diameter) rounds (each a join+agg+action) and showed 4.7×
    * run-to-run wall-time variance at sf0.1; star contraction runs the
    * same equi-join/aggregate primitives but converges
    * diameter-independently, which is what survives chain-shaped
    * near-dup clusters at 100 TB.
    *
    * Each round is groupBy(min) + equi-join on the current edge set;
    * every round's edge set is persisted, the convergence probe is one
    * (count, hash-sum) aggregate on it, and the previous round is
    * unpersisted immediately — nothing leaks past the call (the final
    * label set is pinned via [[materialize]] and all iteration caches
    * are released before returning).
    *
    * Once the (geometrically shrinking) edge frontier fits
    * `localFinishEdges`, the remainder is collected and finished with
    * driver-side union-find: each distributed round is a fixed
    * plan-compile + job-scheduling cost (~seconds) regardless of data
    * size, so paying O(log n) more rounds to contract a graph that
    * already fits in one task is pure overhead. The collect is BOUNDED
    * by the threshold — never corpus-proportional — and the distributed
    * rounds above it are the 100 TB path (a billion-edge near-dup graph
    * never crosses the threshold and runs star rounds to fixpoint).
    *
    * Input: (id_a, id_b) pairs. Output: (id, cluster_id) where
    * cluster_id = min id of the component; only ids that appear in
    * pairs are emitted (singletons are trivially their own cluster).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          localFinishEdges: Long = 100000L): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = pairs.sparkSession
    val idType = pairs.schema.head.dataType

    // bounded driver-side coda: union-find with min-root merging (the
    // smaller root wins, so every root is its component's min id)
    def localFinish(rows: Array[(Long, Long)]): DataFrame = {
      import spark.implicits._
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      rows.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      parent.keys.toSeq.sorted.map(k => (k, find(k)))
        .toDF("id", "cluster_id")
        .select(col("id").cast(idType).as("id"),
          col("cluster_id").cast(idType).as("cluster_id"))
    }

    // large-star: every node attaches its strictly-LARGER neighbors to
    // the minimum of its closed neighborhood. Operates on symmetric
    // (src,dst); emits (v, m) for v ∈ N(u), v > u, m = min(N(u) ∪ {u}).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy(col("src"))
        .agg(least(min(col("dst")), first(col("src"))).as("m"))
      // no distinct here: duplicates are bounded by |sym| and the
      // round's closing small-star distinct removes them — one fewer
      // shuffle per round
      sym.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
    }

    // small-star: orient each edge large→small, then every node
    // attaches itself and its (all smaller) neighbors to their minimum.
    def smallStar(e: DataFrame): DataFrame = {
      val canon = e.select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))
      val withMin = canon.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val nbrs = canon.join(withMin, "src")
        .filter(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
      nbrs.union(withMin.select(col("src"), col("m").as("dst"))).distinct()
    }

    // fingerprint of an edge set for the fixpoint test: cardinality +
    // order-independent hash-sum, read in ONE aggregate per round
    // (decimal accumulator: ANSI mode makes sum(long) throw on overflow)
    def probe(e: DataFrame): (Long, BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)"))).first()
      (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }

    // initial edge set is NOT persisted/probed: round 1 reads it once
    // (twice narrowly, for the symmetric union) straight off the
    // materialized pair set — convergence compares consecutive ROUND
    // signatures, so the fixpoint needs one confirming round rather
    // than an extra up-front materialization job
    var edges = pairs
      .select(col("id_b").as("src"), col("id_a").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

    // the local coda works on long ids; non-integral id types (string
    // keys etc.) stay on the distributed path, which handles any
    // orderable type via greatest/least
    val integralIds = idType match {
      case _: org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.ByteType => true
      case _ => false
    }

    // small-graph short-circuit: one truncated collect (bounded by the
    // threshold — `limit` stops the fetch, so a huge edge set ships at
    // most threshold+1 rows to the driver, not the full set)
    if (localFinishEdges > 0 && integralIds) {
      val head = edges
        .select(col("src").cast("long"), col("dst").cast("long"))
        .limit((localFinishEdges + 1).toInt).collect()
      if (head.length <= localFinishEdges)
        return localFinish(head.map(r => (r.getLong(0), r.getLong(1))))
    }

    var persisted: Option[DataFrame] = None
    var sig: Option[(Long, BigDecimal)] = None
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).persist(StorageLevel.MEMORY_AND_DISK)
      val nsig = probe(next)      // also materializes `next`
      persisted.foreach(_.unpersist())
      persisted = Some(next)
      edges = next
      converged = sig.contains(nsig) || nsig._1 == 0L
      sig = Some(nsig)
      iter += 1
      // the frontier only shrinks: as soon as it fits the local budget,
      // finish there instead of paying more driver-synchronized rounds
      if (!converged && localFinishEdges > 0 && integralIds &&
          nsig._1 <= localFinishEdges) {
        val rest = edges.select(col("src").cast("long"), col("dst").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        persisted.foreach(_.unpersist())
        return localFinish(rest)
      }
    }
    // A non-converged edge set can hold several parents per node, so
    // labeling from it would emit conflicting cluster_id rows — a
    // silently wrong answer. Refuse instead: the caller either raises
    // maxIter (star contraction needs O(log n) rounds) or lowers the
    // problem size.
    if (!converged) {
      persisted.foreach(_.unpersist())
      throw new IllegalStateException(
        s"connectedComponents did not reach fixpoint after $maxIter " +
          s"rounds (frontier=${sig.map(_._1).getOrElse(-1L)} edges); " +
          "raise maxIter — labeling a non-converged edge set would " +
          "produce ambiguous cluster assignments")
    }
    // at fixpoint `edges` is per-component stars (child → root); roots
    // appear only on the dst side and label themselves
    val labels = edges.select(col("src").as("id"), col("dst").as("cluster_id"))
      .union(edges.select(col("dst").as("id"), col("dst").as("cluster_id")))
      .distinct()
    val out = materialize(labels)
    persisted.foreach(_.unpersist())
    out
  }

  /** Exact character-n-gram Jaccard over an id-windowed pair set
    * (id_b − id_a ≤ `window`). The windowed variant exists to be
    * oracle-checkable (exact SQL semantics); unbounded near-dup at
    * scale goes through [[minhashPairs]]/[[simhashPairs]] instead.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, window: Long = 20,
                        threshold: Double = 0.5): DataFrame =
    windowedJaccardPairs(df, idCol, textCol, char_ngram_set(_, n),
      window, threshold)

  /** Exact word-`n`-shingle Jaccard over an id-windowed pair set —
    * the same set semantics [[minhashPairs]] approximates, so joining
    * the two yields a ground-truth LSH recall measurement
    * ([[graft.queries.ScaleQueries.dedupMinhashRecall]]).
    */
  def shingleJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, window: Long = 20,
                          threshold: Double = 0.7): DataFrame =
    windowedJaccardPairs(df, idCol, textCol, shingle_set(_, n),
      window, threshold)

  /** Shared windowed exact-Jaccard core: `gram` maps the text column
    * to a sorted distinct hash set (native kernel). Hashed grams give
    * identical jaccard to string grams absent 64-bit collisions
    * (probability ~1e-11 for this corpus) — the DuckDB oracles compute
    * on strings and hash-match, confirming parity.
    */
  private def windowedJaccardPairs(df: DataFrame, idCol: String,
                                   textCol: String, gram: Column => Column,
                                   window: Long,
                                   threshold: Double): DataFrame = {
    val grams = spread(df.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"),
        gram(col("__text")).as("gs"),
        floor(col("id") / window).as("block"))
    // id_b ∈ (id_a, id_a + window] ⇒ block_b ∈ {block_a, block_a + 1}:
    // exploding the left side over both blocks turns the windowed theta
    // join into an equi-join on block (hash join, O(n·window) candidate
    // pairs) instead of a nested-loop O(n²) condition scan.
    val left = grams
      .select(col("id").as("id_a"), col("gs").as("gs_a"),
        explode(array(col("block"), col("block") + 1)).as("jblock_a"))
    val right = grams
      .select(col("id").as("id_b"), col("gs").as("gs_b"),
        col("block").as("jblock_b"))
    left.join(right,
        col("jblock_a") === col("jblock_b") &&
          col("id_b") > col("id_a") && col("id_b") <= col("id_a") + window)
      .withColumn("jaccard", sorted_jaccard(col("gs_a"), col("gs_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT set-similarity self-join via prefix filtering — the
    * AllPairs/PPJoin family (Bayardo, Ma & Srikant, WWW'07; Xiao,
    * Wang, Lin & Yu, PPJoin): every pair of documents whose set
    * Jaccard reaches `thrNum/thrDen` — set elements from `gram`
    * (distinct word tokens by default; word-`n`-shingles via
    * [[shingleStrings]] for dedup-grade discrimination) — over the
    * WHOLE corpus: no id window (unlike [[ngramJaccardPairs]]) and no
    * approximation (unlike [[minhashPairs]]). The completeness lemma:
    * order each document's distinct elements by a GLOBAL total order
    * (document frequency ascending, token ascending — rarest first);
    * if J(A,B) ≥ t then A and B must share a token inside each
    * other's first s − ⌈t·s⌉ + 1 tokens (any pair missing each
    * other's prefixes can intersect in at most ⌈t·s⌉ − 1 of the
    * remaining tokens on the smaller side — below the t bound). So
    * candidates are an EQUI-join on prefix tokens only.
    *
    * Scale shape: the corpus is never compared all-pairs — (1) the
    * token table is a distinct (id, token) projection (one shuffle);
    * (2) prefixes carry the globally RAREST tokens first, so the
    * candidate join's per-token fanout is small by construction
    * (stopwords never enter a prefix unless a document is almost all
    * stopwords); (3) PPJoin's length filter rides the join condition
    * (sizes outside [t·s, s/t] can't reach t), pruning before the
    * pair materializes; (4) verification joins the candidate pairs —
    * not the corpus — back to the token table, so its cost is
    * candidate-bounded. All arithmetic is exact integers: the ceil is
    * (num·s + den − 1) DIV den (positive operands, so trunc ≡ floor)
    * and the threshold test is inter·den ≥ num·(s_a + s_b − inter) —
    * no float enters until the reported rounded jaccard.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         thrNum: Int = 1, thrDen: Int = 2,
                         gram: Column => Column = c =>
                           array_distinct(tokens(c))): DataFrame = {
    require(thrNum > 0 && thrDen >= thrNum,
      s"threshold $thrNum/$thrDen must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    // pinned: five consumers (sizes, dfs, ranks, both verification
    // legs) would otherwise each re-derive the distinct element set
    // from the source scan — 10 scans and 5 gram recomputes
    val toks = materialize(
      spread(df.select(col(idCol).as("id"), col(textCol).as("__text")))
        .select(col("id"), explode(gram(col("__text"))).as("token"))
        .distinct())
    val sizes = toks.groupBy(col("id")).agg(count(lit(1)).as("s"))
    val dfs = toks.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // global total order (df, token): both engines sort strings
    // bytewise, so ranks — and therefore prefixes — replay exactly
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("token"))
    // ⌈num·s/den⌉ — operands strictly positive, so Spark's
    // trunc-toward-zero DIV and DuckDB's floor `//` agree exactly
    val ceilTS = expr(s"($thrNum * s + ${thrDen - 1}) DIV $thrDen")
    val pre = toks.join(dfs, "token").join(sizes, "id")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= col("s") - ceilTS + 1)
      .select(col("id"), col("token"), col("s"), col("rnk"))
    val a = pre.select(col("id").as("id_a"), col("token"),
      col("s").as("s_a"), col("rnk").as("rnk_a"))
    val b = pre.select(col("id").as("id_b"), col("token"),
      col("s").as("s_b"), col("rnk").as("rnk_b"))
    // PPJoin's positional filter rides the join condition: a shared
    // prefix element at ordered positions (i, j) bounds the overlap
    // by 1 + min(s_a − i, s_b − j), which must reach the minimum
    // intersection α = ⌈t·(s_a+s_b)/(1+t)⌉ forced by J ≥ t. For a
    // true pair the EARLIEST shared prefix element satisfies the
    // bound (its suffixes still hold the whole intersection), so
    // per-row filtering before the pair-distinct stays complete
    // while pruning the hot-element candidates the prefix lemma
    // alone admits.
    val alpha = expr(s"($thrNum * (s_a + s_b) + ${thrNum + thrDen - 1}) " +
      s"DIV ${thrNum + thrDen}")
    val cand = a.join(b,
        a("token") === b("token") && col("id_b") > col("id_a") &&
          col("s_b") * thrDen >= col("s_a") * thrNum &&
          col("s_a") * thrDen >= col("s_b") * thrNum &&
          lit(1) + least(col("s_a") - col("rnk_a"),
            col("s_b") - col("rnk_b")) >= alpha)
      .select(col("id_a"), col("id_b")).distinct()
    val inter = cand
      .join(toks.select(col("id").as("id_a"), col("token")), Seq("id_a"))
      .join(toks.select(col("id").as("id_b"), col("token")),
        Seq("id_b", "token"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .filter(col("i") * thrDen >= (col("s_a") + col("s_b") - col("i")) * thrNum)
      .select(col("id_a"), col("id_b"),
        round(col("i").cast("double") /
          (col("s_a") + col("s_b") - col("i")), 4).as("jaccard"))
  }

  /** Benchmark decontamination (train/test overlap removal): for every
    * corpus document, count the distinct word `n`-gram shingles it
    * shares with ANY benchmark document, and flag it contaminated when
    * the count reaches `minShared` — the n-gram-overlap filter used to
    * scrub evaluation sets out of pretraining corpora.
    *
    * Scale shape: the benchmark side (eval suites) is tiny next to a
    * training corpus, so its distinct gram set is broadcast when it
    * fits ([[Hints.maybeBroadcast]]) — the corpus-side scan stays
    * shuffle-free through the join; the only corpus-wide shuffle
    * carries compact (id, partial count) pairs for the per-document
    * aggregate. Grams are 64-bit shingle hashes (scan-stage kernel),
    * so the join key is 8 bytes, never text. Documents with fewer than
    * `n` tokens cannot form a full shingle and are excluded from both
    * sides (their kernel output would be a degenerate catch-all gram).
    *
    * Returns one row per corpus document that has ≥ `n` tokens:
    * (id, n_shared, contaminated 0/1).
    */
  def benchmarkOverlap(corpus: DataFrame, bench: DataFrame,
                       idCol: String, textCol: String,
                       n: Int = 3, minShared: Long = 5): DataFrame = {
    def gramSets(df: DataFrame): DataFrame =
      spread(df.select(col(idCol).as("id"), col(textCol).as("__text")))
        .filter(size(token_hashes(col("__text"))) >= n)
        .select(col("id"), shingle_set(col("__text"), n).as("gs"))
    val benchGrams = Hints.maybeBroadcast(
      gramSets(bench).select(explode(col("gs")).as("g")).distinct())
    // one pass over corpus text: the compact (id, gram-hash-set) base
    // feeds both the overlap join and the full id list (same
    // persist-the-base shape as minhashPairs — without it the left
    // side of the final join would re-tokenize every document)
    val corpusBase = gramSets(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shared = corpusBase
      .select(col("id"), explode(col("gs")).as("g"))
      .join(benchGrams, Seq("g"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
    val out = materialize(
      corpusBase.select(col("id"))
        .join(shared, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)) >= minShared)
            .cast("int").as("contaminated")))
    corpusBase.unpersist()
    out
  }

  /** Exact repeated-span signal (the windowed form of Lee et al.
    * "Deduplicating Training Data Makes Language Models Better", ACL
    * 2022 §4.1 ExactSubstr): every `k`-token window of every document,
    * counted as repeated when the same window text occurs in ≥
    * `minDocs` DISTINCT documents. Returns one row per document:
    * (id, n_windows, n_repeated) — the inputs to a span-removal or
    * doc-drop policy.
    *
    * Scale shape: windows ride as (id, pos, xxhash64(window)) — 24
    * bytes/token regardless of window width (the suffix-array
    * approach of the paper is single-machine; windowed hashing is the
    * standard distributed form, with the same 64-bit-collision parity
    * bet as [[benchmarkOverlap]]). One corpus-sized window table is
    * pinned and feeds the document-frequency aggregate, the repeat
    * join, and the per-doc totals; everything downstream of the scan
    * shuffles compact fixed-width rows.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    k: Int, minDocs: Int = 2): DataFrame = {
    // spread BEFORE the chunk_tokens posexplode — wrapping the exploded
    // frame (the pre-r14 shape) still ran the windowing kernel in the
    // single-task scan stage and only shuffled its OUTPUT
    val wins = spread(df.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"),
        posexplode(graft.functions.dsl.chunk_tokens(col(textCol), k, 1))
          .as(Seq("pos", "win")))
      // chunk_tokens emits trailing partial windows; spans are FULL
      // k-token windows only
      .filter(size(split(col("win"), " ")) === k)
      .select(col("id"), col("pos"), xxhash64(col("win")).as("h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shared = wins.groupBy(col("h"))
      .agg(countDistinct(col("id")).as("__d"))
      .filter(col("__d") >= minDocs)
      .select(col("h"))
    val rep = wins.join(shared, Seq("h"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_repeated"))
    val tot = wins.groupBy(col("id")).agg(count(lit(1)).as("n_windows"))
    val out = materialize(
      df.select(col(idCol).as("id")).distinct()
        .join(tot, Seq("id"), "left")
        .join(rep, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("n_windows"), lit(0L)).as("n_windows"),
          coalesce(col("n_repeated"), lit(0L)).as("n_repeated")))
    wins.unpersist()
    out
  }
}
