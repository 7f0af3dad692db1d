package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.dsl._
import graft.ops.{Dedup, Similarity}
import graft.ops.Similarity.{ListCodec, ListLayout}

/** Queries for the large-scale training-data-pipeline operators
  * (BASELINE.json north star): dedup family + similarity search over
  * the `documents` / `embeddings` tables.
  *
  * Oracle policy: operators whose exact semantics are SQL-expressible
  * (exact dedup, windowed n-gram Jaccard, brute-force cosine top-k,
  * vector norms) carry DuckDB oracles; signature-based approximate
  * operators (MinHash LSH, SimHash, SRP-LSH ANN) are deterministic
  * (fixed seeds) but not SQL-expressible → rows-only driver check +
  * ScalaTest invariants (DedupSpec).
  */
object ScaleQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Multiset equality of two same-schema frames in ONE action (r15):
    * tag rows +1/−1, aggregate the signed counts per distinct row, and
    * assert every group sums to zero — exactly
    * `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty` (both say
    * "per-row multiplicities match on every side"), but as one
    * aggregate over one pass of each input instead of two set-diff
    * actions that each re-execute BOTH search plans (guide §1.2:
    * remove redundant passes). Used by the delta-index consistency
    * gates, whose `served`/`rebuilt` legs are windowed index searches.
    */
  private def sameMultiset(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.map(col).toSeq
    a.withColumn("__sgn", lit(1L))
      .unionByName(b.withColumn("__sgn", lit(-1L)))
      .groupBy(cols: _*).agg(sum(col("__sgn")).as("__d"))
      .filter(col("__d") =!= 0L)
      .isEmpty
  }

  /** Exact dedup by content digest (here: 40-char prefix as the
    * normalized key, which has real collisions in the corpus).
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(t(s, dir, "documents"), "doc_id",
        substring(col("text"), 1, 40))
      .orderBy(col("keep_id"))

  /** MinHash(128) + 16-band LSH near-dup pairs, Jaccard ≥ 0.7 verified
    * exactly on the shingle sets.
    *
    * FULL oracle (promoted from rows-only in r6, same argument as
    * [[dedupClusters]]): every emitted pair carries the EXACT Jaccard
    * over the shingle sets (a ratio of small integer counts —
    * identical IEEE division in both engines), and with LSH candidate
    * recall 1.0 on this corpus the pair set equals the all-pairs
    * exact-threshold set. Verified value-for-value (including the
    * jaccard column) at sf0.001/0.01/0.1 against DuckDB's all-pairs
    * recompute from raw text; `dedup_minhash_recall` flags the
    * recall-degradation case that could ever make this diverge.
    */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 8, threshold = 0.7)
      .withColumn("jaccard", round(col("jaccard"), 4))
      .orderBy(col("id_a"), col("id_b"))

  /** [[dedupMinhash]] with the hot-bucket salting escalation ENGAGED
    * (hotBucketThreshold = 2, salt = 4): every LSH bucket holding ≥ 3
    * docs becomes [[Dedup.keyPairs]]'s salted (lo, hi) tiles instead
    * of landing its whole m² pair work in one task — the skew path
    * between "one task is fine" and "drop the bucket".
    * Result-invariance vs the unsalted pairs is the operator's
    * contract (DedupSpec pins it unit-level); this query pins it
    * DRIVER-level: the oracle is the same all-pairs recompute
    * `dedup_minhash` hash-matches, so the salted candidate generation
    * must reproduce the identical verified pair set. The engagement
    * check is LOUD by design: if a corpus regen removed every hot
    * bucket, the query fails instead of silently passing with one
    * tile per bucket (measured: 21/15/114 hot buckets at
    * sf0.001/0.01/0.1).
    */
  def dedupSalted(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 8, threshold = 0.7,
        hotBucketThreshold = 2, hotBucketSalt = 4,
        requireHotEngagement = true)
      .withColumn("jaccard", round(col("jaccard"), 4))
      .orderBy(col("id_a"), col("id_b"))

  /** [[dedupMinhash]] maintained INCREMENTALLY: the newest 10% of the
    * corpus (`doc_id % 10 = 9`, the deterministic stand-in for "the
    * docs that arrived today") probes the banded-signature index
    * instead of re-running the all-corpus self-join — see
    * [[graft.ops.Dedup.minhashPairsIncremental]] for the at-scale
    * contract. Output adds `src` ∈ {base, delta} naming the leg that
    * produced each pair, so the oracle hash-checks the DECOMPOSITION
    * (which pairs came from the delta probe), not just the union:
    * the same all-pairs DuckDB recompute as `dedup_minhash` (valid by
    * the same measured recall-1.0 argument), with src derived from
    * the endpoint ids.
    */
  def minhashIncremental(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairsIncremental(t(s, dir, "documents"), "doc_id", "text",
        deltaOf = c => pmod(c, lit(10)) === 9,
        shingleN = 3, bands = 16, rowsPerBand = 8, threshold = 0.7)
      .withColumn("jaccard", round(col("jaccard"), 4))
      .orderBy(col("id_a"), col("id_b"))

  /** SimHash-64 near-dup pairs, Hamming ≤ 3 (pigeonhole-complete via
    * 4×16-bit bands).
    *
    * FULL oracle (promoted from rows-only in r6): the banding is
    * COMPLETE for Hamming ≤ 3, so the pair set is exactly the
    * all-pairs signature comparison — and the signatures themselves
    * are replayed bit-for-bit in DuckDB SQL: FNV-1a over lowercased
    * ASCII-alnum token runs folded with `list_reduce`, the SplitMix64
    * finalizer's xor-shift-multiplies in UBIGINT with split
    * multiplication (u64×u64 products overflow INT128, so each
    * mul-mod-2^64 runs as lo·C + ((hi·C_lo mod 2^32)·2^32)), then the
    * 64-bit majority vote. A true kernel VALUE check of
    * [[graft.functions.Kernels.tokenHashes]]/`mix64`/`simhash64` —
    * verified bit-exact at sf0.001/0.01/0.1 (33/23/1393 pairs).
    */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** Benchmark decontamination: documents with `doc_id % 20 == 0` play
    * the held-out benchmark; every other document is corpus. A corpus
    * document is contaminated when it shares ≥ 5 distinct word
    * 3-gram shingles with the benchmark set. Oracle-checked: DuckDB
    * recomputes the gram overlap on raw strings (the Spark side joins
    * on 64-bit shingle hashes — identical counts absent collisions,
    * same parity bet the jaccard oracles confirm). Like the other
    * token-family oracles (`sql_surface`, `dedup_minhash_recall`),
    * DuckDB's Unicode-aware lower() only matches the kernel's
    * ASCII-byte tokenizer on ASCII corpora — true of the testdata.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.benchmarkOverlap(
        docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(20)) === 0),
        "doc_id", "text", n = 3, minShared = 5)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Exact repeated-span signal: 8-token windows occurring in ≥ 2
    * distinct documents ([[graft.ops.Dedup.repeatedSpans]] — the
    * windowed ExactSubstr form of Lee et al. 2022). Oracle recomputes
    * on window STRINGS where the engine joins on 64-bit hashes — the
    * `decontaminate` parity bet.
    */
  def repeatedSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.repeatedSpans(t(s, dir, "documents"), "doc_id", "text", k = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** Exact char-3-gram Jaccard over an id-window — the oracle-checked
    * member of the near-dup family.
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, window = 20, threshold = 0.5)
      .withColumn("jaccard", round(col("jaccard"), 4))
      .orderBy(col("id_a"), col("id_b"))

  /** EXACT unbounded set-similarity self-join via prefix filtering
    * ([[graft.ops.Dedup.prefixJaccardPairs]] — AllPairs/PPJoin): every
    * document pair with word-5-shingle Jaccard ≥ 1/2 over the WHOLE
    * corpus (string shingles — [[graft.ops.Dedup.shingleStrings]] —
    * so the df-ordered prefix ranks replay bytewise in the oracle).
    * Shingle width 5, not the minhash family's 3: prefix filtering
    * needs a SPARSE element space to prune (candidates cost
    * Σ_prefix-element df²; when the element space saturates, df ∝ n
    * and the join degenerates quadratic — measured directly at 10×:
    * exponent 1.94 at n=3 on this closed-vocabulary corpus vs the
    * sparse regime at n=5; SCALE.md records both). Wider shingles are
    * the standard practitioner lever for exactly this reason.
    * The third member of the near-dup triangle: `ngram_jaccard`
    * is exact but id-windowed, `dedup_minhash` is unbounded but
    * approximate — this one is exact AND unbounded, candidate
    * generation pruned by the rarest-first prefix lemma plus the
    * length filter instead of a window or an LSH gamble. The oracle
    * replays the whole algorithm — df ranks, prefixes, candidate
    * join, exact-integer verification — not just the output contract.
    */
  def ppjoinPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        thrNum = 1, thrDen = 2,
        gram = Dedup.shingleStrings(_, 5))
      .orderBy(col("id_a"), col("id_b"))

  /** The PRODUCTION rung of the set-similarity ladder — MinHash-LSH
    * candidate generation in front of exact verification, on the SAME
    * contract as [[ppjoinPairs]] (word-5-shingle Jaccard ≥ 1/2 over
    * the whole corpus): banding tuned for the 0.5 operating point
    * (64 bands × 2 rows — P[candidate | J=0.5] = 1 − (1 − 0.25)⁶⁴ ≈
    * 1 − 10⁻⁸, the s-curve placement PPJoin's prefix lemma never
    * needs but an LSH index must get right), candidates verified by
    * the exact sorted-set merge. This is the "MinHash when wide
    * shingles fail" escalation `ppjoin_pairs`' adjudication names:
    * prefix filtering prunes by df-rank and degenerates when the
    * element space saturates (measured exponent 1.94 at shingle
    * width 3); banded LSH prunes by signature collision and is
    * immune to element-df skew — bucket caps + salting are its
    * escalations instead. The oracle is the EXACT all-pairs ≥ 1/2
    * replay, so the LSH route's completeness at the operating point
    * is value-checked, not assumed (the dedup_minhash discipline at
    * threshold 1/2).
    */
  def ppjoinLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 5, bands = 64, rowsPerBand = 2, threshold = 0.5)
      .withColumn("jaccard", round(col("jaccard"), 4))
      .orderBy(col("id_a"), col("id_b"))

  /** Brute-force cosine top-5 per query vector (every 20th vector is a
    * query). The corpus is scanned with the query side broadcast in
    * BOUNDED chunks ([[graft.ops.Hints.chunkedBroadcastThetaJoin]]):
    * under the size bound this is one BroadcastNestedLoopJoin (the
    * sf0.1 plan); past it the query set — which grows with the corpus
    * — is hash-chunked so no single broadcast scales with the data. At
    * 100 TB this is the exact-baseline path, with [[annLsh]] as the
    * sublinear approximate path. Ranking is on the 4-dp-rounded
    * similarity with id tie-break so both engines order identically.
    */
  def annTopk(s: SparkSession, dir: String): DataFrame =
    exactTopK(s, dir, k = 5).orderBy(col("qid"), col("rnk"))

  /** Exact brute-force cosine top-`k` per query vector — the shared
    * core of [[annTopk]] and the [[annLshRecall]] gate.
    */
  private def exactTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val corpus = graft.ops.Dedup.spread(
      emb.select(col("vec_id").as("cid"), col("embedding").as("cv")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim_r").desc, col("cid"))
    graft.ops.Hints.chunkedBroadcastThetaJoin(corpus, queries,
        chunkKey = col("qid"), cond = col("qid") =!= col("cid"))
      .withColumn("sim_r", round(cosine_sim(col("qv"), col("cv")), 4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("cid"), col("sim_r"), col("rnk"))
  }

  /** MMR-diversified top-k — Maximal Marginal Relevance (Carbonell &
    * Goldstein, SIGIR 1998), the standard diversity-aware re-ranker a
    * training-data pipeline uses to pick REPRESENTATIVE examples
    * instead of 5 near-copies of the nearest neighbor: from the exact
    * top-20 candidates for one query vector (vec_id 0), greedily
    * select 5 maximizing λ·rel − (1−λ)·max_{j∈S} sim(i,j) with
    * λ = 0.7, every quantity an exact sim_e4 integer (the mine_pairs
    * convention) so the greedy argmax chain is bit-deterministic:
    * score = 7·rel_e4 − 3·maxsim_e4 (the ×10 basis drops the
    * division), ties broken by cid.
    *
    * 100 TB shape: stage 1 is the distributed exact top-k
    * (TakeOrderedAndProject over the broadcast query — or the
    * LSH/IVF candidate path for the approximate variant); stage 2 is
    * k² = 400 pairwise sims over the 20 pinned candidate rows and a
    * 5-step greedy over ≤20 integers — bounded driver state by the
    * codebook contract, independent of corpus size. The oracle
    * replays the relevance ranking, all 380 pairwise sims, and the
    * greedy chain as 5 unrolled argmax CTEs.
    */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    // 20 rows pinned; read twice below
    val top = Dedup.materialize(emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("cid"), col("embedding").as("cv"),
        round(cosine_sim(col("embedding"), col("qv")) * 10000)
          .cast("long").as("rel_e4"))
      .orderBy(col("rel_e4").desc, col("cid")).limit(20))
    val a = top.select(col("cid").as("i"), col("cv").as("iv"))
    val b = top.select(col("cid").as("j"), col("cv").as("jv"))
    // all 380 candidate-pair sims through the SAME kernel the
    // relevance leg used — bounded collect (k² by design constant)
    val simMap = a.crossJoin(broadcast(b)).filter(col("i") =!= col("j"))
      .select(col("i"), col("j"),
        round(cosine_sim(col("iv"), col("jv")) * 10000)
          .cast("long").as("sim_e4"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val rels = top.select(col("cid"), col("rel_e4")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    import s.implicits._
    graft.ops.Mmr.greedy(rels, (i, j) => simMap((i, j)), k = 5)
      .toDF("rank", "cid", "rel_e4", "maxsim_e4", "score")
  }

  /** Margin-based nearest-neighbor PAIR MINING — the ratio margin of
    * Artetxe & Schwenk, "Margin-based Parallel Corpus Mining with
    * Multilingual Sentence Embeddings" (ACL 2019), the standard
    * aligned-pair harvester for training-data pipelines: for each
    * query x (even vec_id half) the best candidate y (odd half) by
    *   margin(x, y) = cos(x, y) / ((avgTopK_X(x) + avgTopK_Y(y)) / 2),
    * similarity normalized by BOTH endpoints' local neighborhood
    * density — hub vectors that are "close to everything" have a high
    * denominator and never win, which plain cosine thresholds get
    * wrong. Pairs below margin 1.10 (≈ the corpus median) are dropped.
    *
    * Determinism is EXACT-INTEGER end to end (the suite's lm_surprisal
    * discipline): similarities land as `sim_e4 = round(1e4·cos)` and
    * the margin as `margin_e6 = (2k·sim_e4·1e6) DIV (Σtopk_x + Σtopk_y)`
    * — pure int64 arithmetic (max intermediate 2·4·10⁴·10⁶ = 8·10¹⁰),
    * identical in DuckDB, so the oracle hash-checks the full pipeline
    * with no float-summation-order hazard. Positive-regime guards
    * (sim_e4 > 0, denominator > 0) keep DIV semantics engine-identical.
    *
    * Plan shape: ONE X×Y similarity frame (query side broadcast in
    * bounded chunks, as [[annTopk]]) persisted and reused for both
    * per-x and per-y top-k windows; the neighborhood sums join back on
    * their keys. At 100 TB the exact X×Y scan is the swappable piece:
    * the k-NN lists come from [[annLsh]]/[[Similarity.ivfTopK]]
    * candidate generation instead (margin arithmetic unchanged — it
    * only needs each side's top-k list), which is exactly how the
    * published systems (LASER/CCMatrix) run it; the exact path here is
    * the oracle-checkable baseline.
    */
  def minePairs(s: SparkSession, dir: String): DataFrame = {
    val (out, sims) = minePairsFrame(s, dir)
    val pinned = Dedup.materialize(out)
    sims.unpersist()
    pinned.orderBy(col("xid"))
  }

  /** [[minePairs]] before materialization — the plan PlanSpec pins
    * (the public entry returns a checkpoint scan, which has no plan
    * left to assert on). Returns the result frame plus the persisted
    * similarity frame so the caller controls unpersist timing.
    */
  private[graft] def minePairsFrame(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val k = 4
    val thresholdE6 = 1100000L
    val emb = t(s, dir, "embeddings")
    val xs = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("xid"), col("embedding").as("xv"))
    val ys = Dedup.spread(emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("yid"), col("embedding").as("yv")))
    val sims = graft.ops.Hints.chunkedBroadcastThetaJoin(ys, xs,
        chunkKey = col("xid"), cond = lit(true))
      .select(col("xid"), col("yid"),
        round(cosine_sim(col("xv"), col("yv")) * 10000).cast("long")
          .as("sim_e4"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wx = Window.partitionBy(col("xid"))
      .orderBy(col("sim_e4").desc, col("yid"))
    val wy = Window.partitionBy(col("yid"))
      .orderBy(col("sim_e4").desc, col("xid"))
    val topx = sims.withColumn("rnk", row_number().over(wx))
      .filter(col("rnk") <= k)
    val sumx = topx.groupBy(col("xid")).agg(sum(col("sim_e4")).as("xsum_e4"))
    val sumy = sims.withColumn("rnk", row_number().over(wy))
      .filter(col("rnk") <= k)
      .groupBy(col("yid")).agg(sum(col("sim_e4")).as("ysum_e4"))
    val wbest = Window.partitionBy(col("xid"))
      .orderBy(col("margin_e6").desc, col("yid"))
    val out = topx
      .join(sumx, Seq("xid")).join(sumy, Seq("yid"))
      .filter(col("sim_e4") > 0 && col("xsum_e4") + col("ysum_e4") > 0)
      .withColumn("margin_e6",
        expr(s"(2 * $k * sim_e4 * 1000000) DIV (xsum_e4 + ysum_e4)"))
      .withColumn("brnk", row_number().over(wbest))
      .filter(col("brnk") === 1 && col("margin_e6") >= thresholdE6)
      .select(col("xid"), col("yid"), col("sim_e4"), col("margin_e6"))
    (out, sims)
  }

  /** SRP-LSH approximate nearest neighbors: L=8 hash tables × 6-bit
    * signed-random-projection buckets (standard multi-table LSH —
    * union of per-table candidates, then exact cosine re-rank, top-3).
    * Sublinear: candidate generation is an equi-join on
    * (table, bucket) — the shuffle carries (id, vector) pairs within
    * matching buckets only, never the full cross product. At 100 TB,
    * tables/bits trade recall vs candidate count; re-rank cost scales
    * with candidates, not corpus. Defaults chosen by measurement:
    * 8×6 with QUERY-DIRECTED multi-probe (7 probes/table, [[
    * graft.functions.Kernels.srpProbes]]) gives top-3 recall
    * 0.93/0.95/0.97 at sf0.001/0.01/0.1 at the SAME candidate budget
    * where uniform single-bit-flip probing measured 0.87/0.89/0.94
    * (and 4×8 tables managed only 0.33-0.43); 14 probes/table reaches
    * 1.0 everywhere if a caller wants exactness-at-higher-cost. The
    * [[annLshRecall]] gate pins the ≥80% floor driver-visibly.
    * Deterministic; rows-only check.
    */
  def annLsh(s: SparkSession, dir: String): DataFrame =
    annLshParams(s, dir, nTables = 8, bits = 6)

  /** [[annLsh]] with the recall/cost knobs exposed: more tables or
    * fewer bucket bits → more candidates → higher recall, more re-rank
    * cost (candidate count, never corpus size). `nProbes` is the
    * per-table probe budget (default bits + 1 — the same budget the
    * old uniform single-bit-flip scheme spent).
    */
  def annLshParams(s: SparkSession, dir: String,
                   nTables: Int, bits: Int,
                   nProbes: Int = -1): DataFrame = {
    val probesPerTable = if (nProbes > 0) nProbes else bits + 1
    val emb = t(s, dir, "embeddings")
    // only (id, table, bucket) flows through the LSH join and the
    // candidate distinct — vectors join back once per unique candidate
    def buckets(df: DataFrame, idAs: String): DataFrame =
      df.select(col("vec_id").as(idAs),
          explode(array((0 until nTables).map(tb =>
            struct(lit(tb).as("tbl"),
              srp_bucket(col("embedding"), bits, seed = 42L + tb)
                .as("bucket"))): _*)).as("tb"))
        .select(col(idAs), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    // QUERY-DIRECTED multi-probe (Lv et al.): each query probes the
    // nProbes buckets of lowest flip cost per table — a 2-bit flip of
    // two near-boundary hyperplanes outranks a 1-bit flip of a
    // confident one, recovering near-boundary neighbors the uniform
    // single-bit scheme missed AT THE SAME candidate budget. Probes
    // are computed on the query side only; the corpus-side index stays
    // one bucket per (table, vector).
    val queries = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"),
        explode(array((0 until nTables).map(tb =>
          struct(lit(tb).as("tbl"),
            srp_probes(col("embedding"), bits, 42L + tb, probesPerTable)
              .as("probes"))): _*)).as("tb"))
      .select(col("qid"), col("tb.tbl").as("tbl"),
        explode(col("tb.probes")).as("bucket"))
    // query-side frames are gated, not unconditionally broadcast: both
    // grow with the corpus (5% of vectors), so past the size bound the
    // planner falls back to a shuffle hash join on the equi-keys —
    // correct at any scale, broadcast-fast while they fit
    val corpus = buckets(graft.ops.Dedup.spread(emb), "cid")
    val candidates = corpus
      .join(graft.ops.Hints.maybeBroadcast(queries), Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid")).distinct()
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim_r").desc, col("cid"))
    candidates
      .join(graft.ops.Hints.maybeBroadcast(
        vecs.select(col("vec_id").as("qid"), col("embedding").as("qv"))), "qid")
      .join(vecs.select(col("vec_id").as("cid"), col("embedding").as("cv")), "cid")
      .withColumn("sim_r", round(cosine_sim(col("qv"), col("cv")), 4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("cid"), col("sim_r"), col("rnk"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Driver-visible recall gate for [[annLsh]]: joins the LSH top-3
    * against the exact brute-force top-3 and emits ONE row —
    * (n_queries, recall_floor_pct, floor_met). The DuckDB oracle can't
    * recompute LSH, but it pins two facts the Spark side must
    * reproduce: `n_queries` equals the full query-vector count (every
    * query surfaced candidates — a silent-coverage check) and
    * `floor_met` = 1 (aggregate top-3 recall ≥ the floor). Both sides
    * are deterministic — fixed SRP seeds, 4-dp-rounded similarities,
    * id tie-breaks — so the assertion is stable, turning the recall
    * ScalaTest into a driver-checked row.
    */
  def annLshRecall(s: SparkSession, dir: String): DataFrame =
    recallGate(annLsh(s, dir), exactGroundTruth(s, dir, k = 3),
      k = 3, floorPct = 80) // query-directed probing measures ≥0.93; 80 leaves regen margin

  /** Driver-visible recall gate for [[annIvf]] — same contract as
    * [[annLshRecall]]. The 60% floor holds with margin at every test
    * SF (measured top-3 recall 1.0/1.0/0.787 at sf0.001/0.01/0.1).
    */
  def annIvfRecall(s: SparkSession, dir: String): DataFrame =
    recallGate(annIvf(s, dir), exactGroundTruth(s, dir, k = 3),
      k = 3, floorPct = 60)

  /** The recall-vs-nprobe TUNING CURVE — the sweep an index operator
    * actually runs before fixing a probe budget, priced as ONE search:
    * [[graft.ops.Similarity.ivfProbeCandidates]] searches once at the
    * curve's maximum (nprobe 8) retaining each candidate's
    * first-probe rank, and every curve point (nprobe ∈ {1,2,4,8})
    * ranks the `first_probe <= nprobe` SUBSET of that candidate
    * table — a window over queries×candidates rows, no second corpus
    * pass. Recall@3 counts hits against the memoized exact ground
    * truth (`exactGroundTruth`, shared with both recall gates), in
    * exact-integer recall_e6. The curve is monotone nondecreasing in
    * nprobe BY CONSTRUCTION (candidate sets nest) — pinned in the
    * spec; the oracle replays assignment, first-probe retention,
    * per-point ranking, and the recall arithmetic end to end.
    */
  def annRecallCurve(s: SparkSession, dir: String): DataFrame =
    recallCurveFrom(s, autotuneCandidates(s, dir),
      exactGroundTruth(s, dir, k = 3), Seq(1, 2, 4, 8))

  /** The ONE max-probe candidate table (nprobeMax = 8, first-probe
    * rank retained) both [[annRecallCurve]] and [[annAutotune]] rank —
    * pinned so every curve point / the served subset reads the same
    * rows.
    */
  private def autotuneCandidates(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val codebook = graft.ops.Similarity.sampledCodebook(
      emb, "vec_id", "embedding", stride = 149, maxCentroids = 1 << 14)
    graft.ops.Dedup.materialize(
      graft.ops.Similarity.ivfProbeCandidates(emb, "vec_id", "embedding",
        col("vec_id") % 20 === 0, nprobeMax = 8, codebook))
  }

  /** recall@3 per probe budget over a pinned candidate table — the
    * shared curve core of [[annRecallCurve]] and [[annAutotune]].
    */
  private def recallCurveFrom(s: SparkSession, cand: DataFrame,
                              exact: DataFrame,
                              points: Seq[Int]): DataFrame = {
    import s.implicits._
    val pts = points.toDF("nprobe")
    val ranked = cand.crossJoin(broadcast(pts))
      .filter(col("first_probe") <= col("nprobe"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("nprobe"), col("qid"))
          .orderBy(col("sim_r").desc, col("cid"))))
      .filter(col("rnk") <= 3)
    val hits = ranked
      .join(exact.select(col("qid"), col("cid")), Seq("qid", "cid"))
      .groupBy(col("nprobe")).agg(count(lit(1)).as("hits"))
    val total = exact.agg(count(lit(1)).as("n_exact"))
    pts.join(hits, Seq("nprobe"), "left")
      .crossJoin(broadcast(total))
      .select(col("nprobe"), col("n_exact"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("recall_e6", expr("hits * 1000000 DIV n_exact"))
      .orderBy(col("nprobe"))
  }

  /** CLOSED-LOOP probe-budget auto-tuning — the step after the curve:
    * measure recall per budget ON THE SAME single search, PICK the
    * smallest nprobe meeting the 80% recall target (falling back to
    * the max budget when no point reaches it), and SERVE every query
    * at the chosen budget — curve, pick, and serving all priced at
    * ONE corpus assignment + one probe join, because the candidate
    * table retains each candidate's first-probe rank and serving at
    * nprobe = p is the `first_probe <= p` subset. This is the tuning
    * loop an index operator otherwise runs by hand (sweep → read →
    * redeploy); the driver row pins both the choice and the results
    * served under it. The pick is a bounded 4-row driver read; the
    * oracle recomputes curve, pick rule, and served ranking end to
    * end.
    */
  def annAutotune(s: SparkSession, dir: String): DataFrame = {
    val cand = autotuneCandidates(s, dir)
    val exact = exactGroundTruth(s, dir, k = 3)
    val curve = recallCurveFrom(s, cand, exact, Seq(1, 2, 4, 8)).collect()
    val chosen = curve.filter(_.getAs[Long]("recall_e6") >= 800000L)
      .map(_.getAs[Int]("nprobe")).sorted.headOption.getOrElse(8)
    cand.filter(col("first_probe") <= chosen)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("sim_r").desc, col("cid"))))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("cid"), col("sim_r"), col("rnk"))
      .withColumn("nprobe_used", lit(chosen))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Matryoshka truncation-recall curve (Kusupati et al., "Matryoshka
    * Representation Learning", NeurIPS 2022): rank with only the
    * FIRST `d` dimensions of each embedding (d ∈ {16, 32, 64}) and
    * measure top-3 recall against the full-dimension exact ranking —
    * the measurement a serving tier runs before switching its
    * first-stage retrieval to a truncated (4×-cheaper) prefix of the
    * same vectors. Emits (dims, n_exact, hits, recall_e6); the d=64
    * row is the 1.0 anchor by construction.
    *
    * Scale shape: ONE candidate join computes all three prefix
    * similarities per pair (one corpus×queries pass instead of one
    * per curve point — the [[annRecallCurve]] one-search discipline),
    * the candidate table is pinned, and each curve point is a window
    * rank over it. The brute-force join is the ground-truth harness;
    * the 100 TB first stage is the IVF family at the truncated dims
    * (assignment cost scales with d, which is the point of MRL).
    * Fully oracle-replayable: prefix slices are the same float values
    * widened to double on both engines, sims 4-dp-rounded with id
    * tie-breaks, recall in exact-integer arithmetic.
    */
  def embedMatryoshka(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dims = mrlDims
    val cand = matryoshkaCand(s, dir)
    val exact = graft.ops.Dedup.materialize(
      matryoshkaTop3(cand, dims.max))
    val total = exact.agg(count(lit(1)).as("n_exact"))
    // ONE windowed pass over all curve points (r15 — the
    // maxsim_budget_curve collapse): melt the per-dims sims into
    // (dims, sim) rows and rank within (dims, qid) instead of one
    // window+join+aggregate branch per truncation. Row-for-row
    // identical: rank-within-(d, qid) on sim_d ≡ matryoshkaTop3(d),
    // and the left join restores a hits=0 row.
    val melted = cand.select(col("qid"), col("cid"),
        explode(array(dims.map(d =>
          struct(lit(d).as("dims"), col(s"sim_$d").as("sim"))): _*)).as("x"))
      .select(col("qid"), col("cid"),
        col("x.dims").as("dims"), col("x.sim").as("sim"))
    val hits = melted
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("dims"), col("qid"))
          .orderBy(col("sim").desc, col("cid"))))
      .filter(col("rnk") <= 3)
      .select(col("dims"), col("qid"), col("cid"))
      .join(exact, Seq("qid", "cid"))
      .groupBy(col("dims")).agg(count(lit(1)).as("__hits"))
    dims.toDF("dims").join(broadcast(hits), Seq("dims"), "left")
      .crossJoin(broadcast(total))
      .select(col("dims"), col("n_exact"),
        coalesce(col("__hits"), lit(0L)).as("hits"))
      .withColumn("recall_e6", expr("hits * 1000000 DIV n_exact"))
      .orderBy(col("dims"))
  }

  private val mrlDims = Seq(16, 32, 64)

  /** The pinned matryoshka candidate table — ONE |Q|·n brute join
    * computing every curve point's prefix similarity per pair —
    * memoized because it is BOTH the curve's data
    * ([[embedMatryoshka]]) and the exact-prefix ground truth the
    * truncated-dims IVF serving path gates against ([[annIvfMrl]]):
    * the exact harness is priced once, not once per consumer.
    */
  private def matryoshkaCand(s: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(s, dir, "mrl-cand") {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val corpus = graft.ops.Dedup.spread(
        emb.select(col("vec_id").as("cid"), col("embedding").as("cv")))
      val joined = graft.ops.Hints.chunkedBroadcastThetaJoin(
        corpus, queries,
        chunkKey = col("qid"), cond = col("qid") =!= col("cid"))
      graft.ops.Dedup.materialize(
        mrlDims.foldLeft(joined) { (df, d) =>
          df.withColumn(s"sim_$d",
            round(cosine_sim(slice(col("qv"), 1, d),
              slice(col("cv"), 1, d)), 4))
        }.select(col("qid") +: col("cid") +:
          mrlDims.map(d => col(s"sim_$d")): _*))
    }

  /** Exact prefix-similarity top-3 at truncation `d` over the pinned
    * candidate table — the per-curve-point ranking shared by the
    * curve and the [[annIvfMrl]] gate.
    */
  private def matryoshkaTop3(cand: DataFrame, d: Int): DataFrame =
    cand.withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col(s"sim_$d").desc, col("cid"))))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("cid"))

  /** The matryoshka SERVING path made real — first-stage retrieval
    * over the TRUNCATED prefix (Kusupati et al., MRL, NeurIPS 2022:
    * the entire point of nested representations is that retrieval at
    * d ≪ D costs d/D of the assignment and scan arithmetic on the
    * same stored vectors): the full IVF family — √n-stride coarse
    * quantizer ([[Similarity.sqrtStride]]), count-tracking probe
    * budget ([[Similarity.halfNprobe]] — the unclustered-corpus
    * fraction, curve in its doc), scan-stage assignment, equi-join
    * candidates, candidate-bounded re-rank — run over
    * `slice(embedding, 1, d)` for d ∈ {16, 32}, recall-gated per
    * truncation against the EXACT prefix ranking from the pinned
    * matryoshka candidate table ([[matryoshkaCand]] — the
    * `maxsim_ivf`-over-`maxsim_rank` template). Measured recall at
    * sf0.001/0.01/0.1: 1.0 / 1.0 / 0.997 at d=16 and 0.97 / 0.97 /
    * 0.98 at d=32 (80% floor leaves regen margin). This certifies
    * the scale-safe sibling `embed_matryoshka`'s docstring promises:
    * the curve is the measurement, THIS is what serves at 100 TB.
    */
  def annIvfMrl(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cand = matryoshkaCand(s, dir)
    val stride = graft.ops.Similarity.sqrtStride(emb.count())
    // ONE sampled collect at the WIDEST truncation serves both dims
    // (r15, guide §1.2: remove passes): the sampled id set is
    // d-independent (filter/order/limit touch only vec_id) and
    // slice-then-cast equals cast-then-slice elementwise, so each
    // d-codebook is the row-wise d-prefix of the d=32 collect —
    // value-identical to the two separate collects this replaces.
    val cbWide = graft.ops.Similarity.sampledCodebook(
      emb.select(col("vec_id"),
        slice(col("embedding").cast("array<float>"), 1, 32).as("pv")),
      "vec_id", "pv", stride)
    Seq(16, 32).map { d =>
      val sliced = emb.select(col("vec_id"),
        slice(col("embedding").cast("array<float>"), 1, d).as("pv"))
      val cb = cbWide.map { case (id, v) => (id, v.take(d)) }
      val approx = graft.ops.Similarity.ivfTopKWithCodebook(
        sliced, "vec_id", "pv",
        queryPred = col("vec_id") % 20 === 0, k = 3,
        nprobe = graft.ops.Similarity.halfNprobe(cb.length),
        codebook = cb)
      recallGate(approx, matryoshkaTop3(cand, d), k = 3, floorPct = 80)
        .select(lit(d).as("dims"), col("n_queries"),
          col("recall_floor_pct"), col("floor_met"))
    }.reduce(_ unionByName _).orderBy(col("dims"))
  }

  /** The full MRL ADAPTIVE-RETRIEVAL funnel (Kusupati et al. §4.3 —
    * "retrieve with the short vector, re-rank with the long one"):
    * stage 1 serves a top-32 SHORTLIST from the 16-d prefix through
    * the IVF machinery (`ann_ivf_mrl`'s first stage at funnel width —
    * a quarter of the assignment/scan arithmetic of full-dim
    * retrieval), stage 2 re-ranks ONLY the shortlist with the exact
    * full-64-d cosine, and the row MEASURES end-to-end recall against
    * the exact FULL-DIM top-3 (the `ann_topk` ground truth). Emitted
    * as a measurement, not a gate, deliberately: the synthetic
    * embeddings are independent gaussians with NO nested-
    * representation structure, so the 16-d prefix ranks almost
    * independently of the full ranking (the `embed_matryoshka` curve
    * says the same — prefix@16 top-3 recall ≈ 0.05) and the funnel
    * measures ~0.2–0.5 here; on actual MRL-trained embeddings the
    * prefix IS a trained approximation of the full vector and this
    * same machinery serves at the paper's near-1.0 recall. The row
    * is the measurement an operator reads to decide whether their
    * embedding space has funnel structure — exactly like the curve,
    * but priced at serving cost instead of a brute |Q|·n join.
    *
    * Scale shape: stage 1 is the √n-stride/half-coverage IVF serve at
    * d = 16; stage 2 touches |Q| × 32 vector rows via one equi-join —
    * the full-dim corpus scan never runs. Every stage is
    * deterministic fixed-order arithmetic, so the whole funnel —
    * prefix codebook, assignment, probes, prefix shortlist, full-dim
    * re-rank, exact baseline, integer recall — replays in the oracle
    * value-for-value.
    */
  def annMrlFunnel(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val d = 16
    val shortK = 32
    val sliced = emb.select(col("vec_id"),
      slice(col("embedding").cast("array<float>"), 1, d).as("pv"))
    val cb = graft.ops.Similarity.sampledCodebook(
      sliced, "vec_id", "pv", graft.ops.Similarity.sqrtStride(emb.count()))
    val shortlist = graft.ops.Similarity.ivfTopKWithCodebook(
        sliced, "vec_id", "pv",
        queryPred = col("vec_id") % 20 === 0, k = shortK,
        nprobe = graft.ops.Similarity.halfNprobe(cb.length),
        codebook = cb)
      .select(col("qid"), col("cid"))
    val vecs = emb.select(col("vec_id"),
      col("embedding").cast("array<float>").as("v"))
    val reranked = shortlist
      .join(graft.ops.Hints.maybeBroadcast(
        vecs.select(col("vec_id").as("qid"), col("v").as("qv"))), Seq("qid"))
      .join(vecs.select(col("vec_id").as("cid"), col("v").as("cv")),
        Seq("cid"))
      .withColumn("sim_r", round(cosine_sim(col("qv"), col("cv")), 4))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("sim_r").desc, col("cid"))))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("cid"))
    val exact = exactGroundTruth(s, dir, k = 3)
    val total = exact.agg(count(lit(1)).as("n_exact"))
    reranked.join(exact.select(col("qid"), col("cid")), Seq("qid", "cid"))
      .agg(count(lit(1)).as("hits"))
      .crossJoin(broadcast(total))
      .select(lit(shortK).as("short_k"), col("n_exact"), col("hits"))
      .withColumn("recall_e6", expr("hits * 1000000 DIV n_exact"))
  }

  /** Late-interaction (MaxSim) ranking — the ColBERT scoring rule
    * (Khattab & Zaharia, SIGIR 2020): a query is a BAG of vectors and
    * score(q, d) = Σ_i max_j cos(q_i, d_j), so a document must match
    * every facet of the query somewhere rather than on one pooled
    * average. Here each 64-d embedding is read as four 16-d
    * sub-vectors (the multi-vector layout PQ's subspaces already use)
    * and every-20th vector queries the corpus for its MaxSim top-3.
    *
    * Scale shape: ONE |Q|·n candidate join computes all 16 sub-pair
    * cosines in the scan stage (the ground-truth harness, exactly
    * [[annTopk]]'s priced join); the 100 TB first stage is per-
    * sub-vector ANN candidate generation (the PLAID decomposition:
    * probe the IVF index once per query sub-vector, union candidates,
    * exact-MaxSim re-rank only the shortlist — the `ann_ivf` +
    * `ivfAdcBatchSearch` machinery composes directly). Fully
    * oracle-replayable: sub-slices are the same floats widened to
    * double, the 4 maxima and their left-assoc sum are identical IEEE
    * on both engines, ranked at 4 dp with id tie-breaks.
    */
  def maxsimRank(s: SparkSession, dir: String): DataFrame =
    maxsimRankOver(t(s, dir, "embeddings"))

  /** [[maxsimRank]]'s exact harness over ANY (vec_id, embedding)
    * corpus — shared by the uniform-corpus query and the
    * planted-cluster certification ([[maxsimIvfClustered]]), which
    * must rank under identical arithmetic.
    */
  private def maxsimRankOver(emb: DataFrame): DataFrame = {
    val sub = 16
    val queries = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val corpus = graft.ops.Dedup.spread(
      emb.select(col("vec_id").as("cid"), col("embedding").as("cv")))
    // fused kernel (r15): bit-identical to the composed
    // slice/cosine_sim/greatest chain (see Kernels.maxsim; MaxSimSpec
    // pins value equality), minus 2·m² slice allocations per pair in
    // the |Q|×|C| exact stage
    val score = maxsim_score(col("qv"), col("cv"), 4, sub)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("maxsim_r").desc, col("cid"))
    graft.ops.Hints.chunkedBroadcastThetaJoin(corpus, queries,
        chunkKey = col("qid"), cond = col("qid") =!= col("cid"))
      .withColumn("maxsim_r", round(score, 4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("cid"), col("maxsim_r"), col("rnk"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** The MaxSim 100 TB path made REAL — PLAID-style decomposition
    * (Santhanam et al., NAACL 2022): candidate generation runs ONE
    * IVF probe PER QUERY SUB-VECTOR (each 16-d facet probes its own
    * sub-space coarse quantizer; a document qualifies if ANY facet's
    * list matches — the union is exactly why late interaction needs
    * per-facet indexes, a pooled single-vector probe would miss
    * documents that match one facet strongly), and the exact
    * 16-cosine MaxSim runs only on the candidate union. Emits the
    * [[recallGate]] row vs the exact [[maxsimRank]] top-3 (80%
    * floor; measured 0.99 / 0.99 / 0.96 at sf0.001/0.01/0.1 under
    * the √n-stride + half-coverage probe config — the r12 fix for
    * the fixed-149-stride nlist ∝ n hazard and the 1.0→0.83 recall
    * decay the fixed nprobe=4 caused).
    *
    * Scale shape: sub-space codebooks are bounded literal collects
    * (the IVF rule, m of them); corpus sub-assignments are m
    * scan-stage argmaxes on ONE corpus scan, exploded to (facet,
    * list) equi-join keys; the candidate join is equi, the MaxSim
    * re-rank is candidate-bounded. Nothing all-pairs anywhere — the
    * exact harness (`maxsim_rank`) exists only as this gate's ground
    * truth.
    */
  def maxsimIvf(s: SparkSession, dir: String): DataFrame =
    recallGate(maxsimIvfApprox(s, dir), maxsimRank(s, dir),
      k = 3, floorPct = 80)

  /** The candidate-generation + candidate-bounded re-rank half of
    * [[maxsimIvf]] — exposed so the spec can measure the recall VALUE
    * (the gate row only pins the floor).
    */
  private[graft] def maxsimIvfApprox(s: SparkSession, dir: String)
      : DataFrame =
    maxsimIvfApproxOver(t(s, dir, "embeddings"),
      graft.ops.Similarity.halfNprobe)

  /** The PLAID-style candidate-gen + re-rank over ANY (vec_id,
    * embedding) corpus with a caller-chosen probe-budget rule —
    * `maxsim_ivf` serves the uniform corpus at [[Similarity
    * .halfNprobe]] (the honest budget its recall curve forces);
    * [[maxsimIvfClustered]] serves the planted-cluster corpus at
    * [[Similarity.derivedNprobe]] (the nlist/8 small-fraction regime
    * the 100 TB story relies on). One body, so the two regimes differ
    * ONLY in data geometry and budget.
    */
  private def maxsimIvfApproxOver(emb: DataFrame,
                                  nprobeOf: Int => Int,
                                  cbOpt: Option[Array[(Long, Seq[Float])]] =
                                    None): DataFrame = {
    val sub = 16
    val m = 4
    def sv(c: org.apache.spark.sql.Column, j: Int) =
      slice(c.cast("array<float>"), j * sub + 1, sub)
    // ONE bounded sample collect (the sampledCodebook contract),
    // sliced into the m per-facet sub-space codebooks driver-side;
    // stride is the count-derived √n rule so nlist tracks 4·√n
    // instead of n (the fixed-stride hazard `fullIvfIndex` retired),
    // and the probe budget tracks the list count via the caller's
    // `nprobeOf` rule: a FIXED nprobe is why recall decayed 1.0→0.83
    // across the SFs under the old 149/4 config. On the unclustered
    // synthetic corpus any budget below ~nlist/2 measurably
    // under-recalls (curve in halfNprobe's doc); on the
    // planted-cluster corpus nlist/8 recalls 1.0 (maxsim_ivf_clustered).
    val full = cbOpt.getOrElse(
      graft.ops.Similarity.sampledCodebook(emb, "vec_id",
        "embedding", graft.ops.Similarity.sqrtStride(emb.count())))
    val cbs = (0 until m).map { j =>
      full.map { case (id, v) => (id, v.slice(j * sub, j * sub + sub)) }
    }
    val nprobe = nprobeOf(full.length)
    val centsLits = cbs.map(cb => typedLit(cb.map(_._2).toSeq))
    val idsLits = cbs.map(cb => typedLit(cb.map(_._1).toSeq))
    val corpus = graft.ops.Dedup.spread(
      emb.select(col("vec_id").as("cid"),
        col("embedding").cast("array<float>").as("cv")))
    val lists = corpus.select(col("cid") +: (0 until m).map(j =>
        try_element_at(nearest_centroids(sv(col("cv"), j),
          centsLits(j), idsLits(j), 1), lit(1)).as(s"l_$j")): _*)
      .select(col("cid"), explode(array((0 until m).map(j =>
        struct(lit(j).as("j"), col(s"l_$j").as("centroid_id"))): _*))
        .as("x"))
      .select(col("cid"), col("x.j").as("j"), col("x.centroid_id"))
    // spread the QUERY subset before its per-facet nprobe-deep
    // nearest_centroids kernels (r15, guide §2.5): the filtered
    // single-file scan ran them on one task (profiled 0.27 s cpu≈wall
    // warm), and unlike the fat-row spreads A/B'd negative this round
    // the exchange moves only |Q| = n/20 embedding rows
    val probes = graft.ops.Dedup.spread(
        emb.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("qid"),
            col("embedding").cast("array<float>").as("qv")))
      .select(col("qid") +: (0 until m).map(j =>
        nearest_centroids(sv(col("qv"), j), centsLits(j), idsLits(j),
          nprobe).as(s"p_$j")): _*)
      .select(col("qid"), explode(array((0 until m).map(j =>
        struct(lit(j).as("j"), col(s"p_$j").as("ps"))): _*)).as("x"))
      .select(col("qid"), col("x.j").as("j"),
        explode(col("x.ps")).as("centroid_id"))
    // spreadEager: the re-rank below runs 16 cosine kernels per
    // candidate row — without it AQE byte-coalesces this tiny table's
    // exchange to 1 task and the whole MaxSim pass runs single-core
    // (measured 0.93 s cpu≈wall, 1 task)
    val cand = graft.ops.Dedup.spreadEager(
      lists.join(graft.ops.Hints.maybeBroadcast(probes),
        Seq("j", "centroid_id"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid")).distinct())
    val qSide = emb.select(col("vec_id").as("qid"),
      col("embedding").cast("array<float>").as("qv"))
    val cSide = emb.select(col("vec_id").as("cid"),
      col("embedding").cast("array<float>").as("cv"))
    // fused kernel (r15) — bit-identical to the composed chain
    val score = maxsim_score(col("qv"), col("cv"), m, sub)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("maxsim_r").desc, col("cid"))
    val approx = cand
      .join(graft.ops.Hints.maybeBroadcast(qSide), Seq("qid"))
      .join(cSide, Seq("cid"))
      .withColumn("maxsim_r", round(score, 4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("cid"))
    approx
  }

  /** FILTERED vector search — top-3 under a metadata predicate (each
    * query retrieves only among corpus vectors sharing ITS label),
    * the constrained-ANN problem every serving tier meets the moment
    * vectors carry tenant/language/license attributes. The filter is
    * applied IN the candidate join (inverted lists carry the label,
    * the probe join conjoins `clabel = qlabel`), not as a post-filter
    * of an unfiltered top-k — post-filtering under-fills k whenever
    * the predicate is selective (filter 10% of the corpus and an
    * unfiltered top-3 usually contains zero matching rows). √n-stride
    * sizing with the occupancy-aware [[Similarity.filteredNprobe]]
    * budget (r13 — the filter thins probed lists, so the filtered
    * fraction escalates past the unfiltered halfNprobe); fully
    * hash-checked — assignment, probes, filter, and re-rank all
    * replay (recall vs the exact filtered top-3 is gated by
    * `ann_filtered_recall`).
    *
    * Scale shape: the label rides the existing (centroid_id) equi-join
    * as an extra join key — no second scan, no post-hoc candidate
    * inflation; at high selectivity the same machinery wants
    * label-partitioned lists (a layout knob, not a plan change).
    */
  def annFiltered(s: SparkSession, dir: String): DataFrame =
    // occupancy-aware budget (r13): the label filter thins probed
    // lists ~10×, so the filtered budget escalates past halfNprobe —
    // the derivation and measured curve live on
    // [[Similarity.filteredNprobe]]
    annFilteredTop3Over(t(s, dir, "embeddings"),
        graft.ops.Similarity.filteredNprobe)
      .orderBy(col("qid"), col("rnk"))

  /** The in-plan filtered chain over ANY (vec_id, label, embedding)
    * corpus with a caller-chosen probe-budget rule — `ann_filtered`
    * serves the uniform corpus at [[Similarity.filteredNprobe]] (the
    * occupancy-escalated fraction its recall curve forces);
    * [[annFilteredClustered]] serves the planted-cluster corpus at
    * [[Similarity.derivedNprobe]] — certifying that on clustered data
    * the filtered budget COLLAPSES back to the unfiltered
    * small-fraction regime (true neighbors share the query's cluster,
    * so the label filter no longer decouples probe rank from where
    * they live).
    */
  private def annFilteredTop3Over(emb: DataFrame,
                                  nprobeOf: Int => Int,
                                  cbOpt: Option[Array[(Long, Seq[Float])]] =
                                    None): DataFrame = {
    val cb = cbOpt.getOrElse(
      graft.ops.Similarity.sampledCodebook(emb, "vec_id",
        "embedding", graft.ops.Similarity.sqrtStride(emb.count())))
    val centsLit = typedLit(cb.map(_._2).toSeq)
    val idsLit = typedLit(cb.map(_._1).toSeq)
    val nprobe = nprobeOf(cb.length)
    val lists = graft.ops.Dedup.spread(
        emb.select(col("vec_id").as("cid"), col("label").as("clabel"),
          col("embedding").cast("array<float>").as("cv")))
      .withColumn("centroid_id", try_element_at(
        nearest_centroids(col("cv"), centsLit, idsLit, 1), lit(1)))
    val probes = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").cast("array<float>").as("qv"))
      .withColumn("centroid_id", explode(
        nearest_centroids(col("qv"), centsLit, idsLit, nprobe)))
    lists.join(graft.ops.Hints.maybeBroadcast(probes),
        Seq("centroid_id"))
      .filter(col("qid") =!= col("cid") &&
        col("clabel") === col("qlabel"))
      .withColumn("sim_r", round(cosine_sim(col("qv"), col("cv")), 4))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("sim_r").desc, col("cid"))))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("cid"), col("sim_r"), col("rnk"))
  }

  /** The filtered search SERVED FROM STORAGE — the label-partitioned
    * persisted index [[Similarity.ivfIndexWrite]] built once
    * per dir (under `fullIvfIndex`'s shared √n codebook — labels
    * never change assignment), then ONE query (vec 0, its own label)
    * served by [[Similarity.ivfIndexedSearch]]: the scan reads
    * ONLY the query label's probed list GROUPS (label + list_grp in
    * `PartitionFilters`, the probed list ids as a pushed data filter
    * over the row-group sort — PlanSpec-pinned; the r13 compacted
    * layout) — the storage-layer answer
    * to the selectivity problem `ann_filtered_recall` documents
    * (shared lists are ~90% non-matching rows under a 10-way label;
    * label-partitioned lists make the filter free at read time). The
    * oracle is the in-plan filtered chain restricted to this query:
    * layout must not change results.
    */
  /** The label-partitioned persisted index, built ONCE per dir under
    * `fullIvfIndex`'s shared √n codebook — the shared base instance
    * `ann_filtered_indexed` (point query), `ann_filtered_batch`
    * (fleet), and `ann_filtered_forget` (maintenance, via a
    * filter-copy derive) all read.
    */
  private def labeledIvfIndex(s: SparkSession, dir: String): String = {
    val emb = t(s, dir, "embeddings")
    val (_, codebook) = fullIvfIndex(s, dir)
    graft.Memo.value(dir, "ivf-labeled") {
      val p = graft.TempDirs.create("graft_ivf_labeled").toString
      Similarity.ivfIndexWrite(Dedup.spread(emb), "vec_id", "embedding",
        p, codebook, ListCodec.Flat, ListLayout.ByLabelGroup)
      p
    }
  }

  def annFilteredIndexed(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (_, codebook) = fullIvfIndex(s, dir)
    val path = labeledIvfIndex(s, dir)
    val q0 = emb.filter(col("vec_id") === 0)
      .select(col("label").cast("long"),
        col("embedding").cast("array<float>"))
      .head()
    Similarity.ivfIndexedSearch(s, path, codebook,
        qid = 0L, qlabel = Some(q0.getLong(0)), qv = q0.getSeq[Float](1),
        nprobe = Similarity.filteredNprobe(codebook.length), k = 3)
      .orderBy(col("rnk"))
  }

  /** The whole query fleet served FILTERED from the labeled index in
    * ONE plan ([[Similarity.ivfIndexedBatchSearchLabeled]]): every
    * 20th vector probes under its own label against the stored
    * (label, list)-partitioned rows — the serving mode a fleet uses
    * where the point query uses two-level pruning. The oracle is the
    * SAME chain as `ann_filtered` (assignment depends only on
    * (vector, codebook) and the label rides the join), so storage
    * serving must be row-identical to the in-plan operator.
    */
  def annFilteredBatch(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (_, codebook) = fullIvfIndex(s, dir)
    val path = labeledIvfIndex(s, dir)
    Similarity.ivfIndexedBatchSearchLabeled(s, path, codebook,
        queries = emb.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("embedding").cast("array<float>").as("qv")),
        nprobe = Similarity.filteredNprobe(codebook.length), k = 3)
      .orderBy(col("qid"), col("rnk"))
  }

  /** RIGHT-TO-BE-FORGOTTEN on the LABELED filtered index
    * ([[Similarity.ivfIndexMerge]]) — the maintenance stage
    * the labeled instance was missing (the unlabeled triad has
    * build → delta → forget; `ann_filtered_indexed` had build only):
    * a full instance is DERIVED from the shared labeled index (a
    * filter-copy — [[Similarity.ivfIndexDerive]], never a
    * second assignment argmax), every vec_id ≡ 5 mod 13 is deleted
    * through the (label, group)-scoped staging → idempotent-publish
    * loop, and the whole query fleet is served FILTERED from the
    * maintained index. The oracle is the in-plan filtered chain with
    * the CORPUS side restricted to survivors (queries keep their
    * vectors — they come from the embeddings table, not the index):
    * the forgotten vectors must be gone from the stored lists, not
    * merely unreturned.
    */
  def annFilteredForget(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (_, codebook) = fullIvfIndex(s, dir)
    val basePath = labeledIvfIndex(s, dir)
    val path =
      graft.Memo.value(dir, "ivf-labeled-forget") {
        val p = graft.TempDirs.create("graft_ivf_labeled_forget").toString
        Similarity.ivfIndexDerive(s, basePath, p, lit(true),
          ListLayout.ByLabelGroup)
        Similarity.ivfIndexMerge(s, p, codebook, ListCodec.Flat,
          ListLayout.ByLabelGroup, emb.filter(col("vec_id") % 13 === 5),
          "vec_id", "embedding", forget = true)
        p
      }
    Similarity.ivfIndexedBatchSearchLabeled(s, path, codebook,
        queries = emb.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("embedding").cast("array<float>").as("qv")),
        nprobe = Similarity.filteredNprobe(codebook.length), k = 3)
      .orderBy(col("qid"), col("rnk"))
  }

  /** INCREMENTAL maintenance of the LABELED filtered index
    * ([[Similarity.ivfIndexMerge]]) — the missing middle
    * of the labeled triad (build `ann_filtered_indexed` → DELTA →
    * forget `ann_filtered_forget`): the base instance holds 6/7 of
    * the corpus (a filter-copy derive from the shared labeled index),
    * the remaining 1/7 arrives as a delta batch assigned under the
    * SHARED codebook with only the touched (label, group) partitions
    * merged and republished, and the whole fleet is served FILTERED
    * from the maintained index. `delta_consistent` pins in-engine
    * set-equality against the same fleet served from the
    * rebuilt-from-everything base index (labels never change
    * assignment, so arrival order cannot move a row); the oracle is
    * the full-corpus in-plan filtered chain with the flag pinned —
    * maintenance must be indistinguishable from rebuild.
    */
  def annFilteredDelta(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (_, codebook) = fullIvfIndex(s, dir)
    val basePath = labeledIvfIndex(s, dir)
    val path =
      graft.Memo.value(dir, "ivf-labeled-delta") {
        val p = graft.TempDirs.create("graft_ivf_labeled_delta").toString
        Similarity.ivfIndexDerive(s, basePath, p, col("cid") % 7 =!= 0,
          ListLayout.ByLabelGroup)
        Similarity.ivfIndexMerge(s, p, codebook, ListCodec.Flat,
          ListLayout.ByLabelGroup, emb.filter(col("vec_id") % 7 === 0),
          "vec_id", "embedding", forget = false)
        p
      }
    val fleet = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").cast("array<float>").as("qv"))
    def serve(dir0: String) =
      // pin both fleets: the set-equality flag takes two actions and
      // the returned frame a third — unpinned, the whole-fleet join +
      // window would re-execute per action (the annIvfDelta pattern
      // is a cheap single-query search; this one is not)
      graft.ops.Dedup.materialize(
        Similarity.ivfIndexedBatchSearchLabeled(s, dir0, codebook,
          queries = fleet,
          nprobe = Similarity.filteredNprobe(codebook.length), k = 3))
    val served = serve(path)
    val rebuilt = serve(basePath)
    val consistent = sameMultiset(served, rebuilt)
    served.withColumn("delta_consistent",
        lit(if (consistent) 1 else 0))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Exact filtered top-3 (brute same-label ranking) — the ground
    * truth [[annFilteredRecall]] gates against; memoized because the
    * gate and any future filtered variants share it.
    */
  private def exactFilteredTop3(s: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(s, dir, "ann-filtered-exact") {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("embedding").as("qv"))
      val corpus = graft.ops.Dedup.spread(
        emb.select(col("vec_id").as("cid"), col("label").as("clabel"),
          col("embedding").as("cv")))
      graft.ops.Dedup.materialize(
        graft.ops.Hints.chunkedBroadcastThetaJoin(corpus, queries,
            chunkKey = col("qid"),
            cond = col("qid") =!= col("cid") &&
              col("clabel") === col("qlabel"))
          .withColumn("sim_r",
            round(cosine_sim(col("qv"), col("cv")), 4))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("sim_r").desc, col("cid"))))
          .filter(col("rnk") <= 3)
          .select(col("qid"), col("cid")))
    }

  /** Driver-visible recall gate for [[annFiltered]] — the
    * `ann_ivf_recall` contract under the metadata predicate. Floor 80
    * (raised from 70 in r13) with measured top-3 recall 0.95 / 0.95 /
    * 0.95 at sf0.001/0.01/0.1 under the occupancy-aware
    * [[Similarity.filteredNprobe]] budget — the r12 gap (0.79 at
    * sf0.1, floor 70) was the budget staying occupancy-blind while
    * the label filter thinned probed lists ~10×; the derivation and
    * the measured fraction curve live on filteredNprobe's doc. The
    * gate still exists to surface the layout signal: a selective
    * predicate at scale wants label-partitioned lists
    * (`ann_filtered_indexed`), not ever-larger in-plan budgets.
    */
  def annFilteredRecall(s: SparkSession, dir: String): DataFrame =
    recallGate(annFiltered(s, dir), exactFilteredTop3(s, dir),
      k = 3, floorPct = 80)

  /** The MaxSim COVERAGE–RECALL tuning curve — the measured tradeoff
    * `halfNprobe`'s scaladoc records, certified as a query (the
    * [[annRecallCurve]] one-search discipline applied to the
    * late-interaction route): per-facet probes run ONCE at the
    * curve's maximum budget (nlist/2) retaining each candidate's
    * FIRST-PROBE rank (min over facets — a doc qualifies at budget p
    * if ANY facet probed its list within rank ≤ p), the exact
    * 16-cosine MaxSim is computed ONCE per candidate and pinned, and
    * every curve point (nprobe ∈ {nlist/8, nlist/4, nlist/2}, the
    * `derivedNprobe`/quarter/`halfNprobe` operating points) is a
    * window over the `first_probe <= p` subset. Recall@3 counts hits
    * against the exact [[maxsimRank]] top-3 in exact-integer
    * recall_e6. Monotone nondecreasing in nprobe BY CONSTRUCTION
    * (candidate sets nest) — this is the row set an operator reads to
    * place their corpus on the clustered↔unclustered spectrum and
    * pick the budget `maxsim_ivf` serves at. The naive sweep would
    * re-run candidate generation AND the MaxSim scoring |curve|
    * times; this prices both once.
    */
  def maxsimBudgetCurve(s: SparkSession, dir: String): DataFrame = {
    val sub = 16
    val m = 4
    val emb = t(s, dir, "embeddings")
    def sv(c: org.apache.spark.sql.Column, j: Int) =
      slice(c.cast("array<float>"), j * sub + 1, sub)
    val full = graft.ops.Similarity.sampledCodebook(emb, "vec_id",
      "embedding", graft.ops.Similarity.sqrtStride(emb.count()))
    val nlist = full.length
    val budgets = Seq(
      graft.ops.Similarity.derivedNprobe(nlist),
      math.max(7, nlist / 4),
      graft.ops.Similarity.halfNprobe(nlist)).distinct.sorted
    val npMax = budgets.max
    val cbs = (0 until m).map { j =>
      full.map { case (id, v) => (id, v.slice(j * sub, j * sub + sub)) }
    }
    val centsLits = cbs.map(cb => typedLit(cb.map(_._2).toSeq))
    val idsLits = cbs.map(cb => typedLit(cb.map(_._1).toSeq))
    val corpus = graft.ops.Dedup.spread(
      emb.select(col("vec_id").as("cid"),
        col("embedding").cast("array<float>").as("cv")))
    val lists = corpus.select(col("cid") +: (0 until m).map(j =>
        try_element_at(nearest_centroids(sv(col("cv"), j),
          centsLits(j), idsLits(j), 1), lit(1)).as(s"l_$j")): _*)
      .select(col("cid"), explode(array((0 until m).map(j =>
        struct(lit(j).as("j"), col(s"l_$j").as("centroid_id"))): _*))
        .as("x"))
      .select(col("cid"), col("x.j").as("j"), col("x.centroid_id"))
    val probes = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<float>").as("qv"))
      .select(col("qid") +: (0 until m).map(j =>
        nearest_centroids(sv(col("qv"), j), centsLits(j), idsLits(j),
          npMax).as(s"p_$j")): _*)
      .select(col("qid"), explode(array((0 until m).map(j =>
        struct(lit(j).as("j"), col(s"p_$j").as("ps"))): _*)).as("x"))
      .select(col("qid"), col("x.j").as("j"),
        posexplode(col("x.ps")).as(Seq("p0", "centroid_id")))
      .withColumn("probe_rank", (col("p0") + 1).cast("int"))
      .drop("p0")
    // first-probe retention across facets: min probe rank of any
    // facet whose probed list holds the doc
    // spreadEager: same CPU-dense re-rank shape as maxsimIvfApproxOver
    // — the MaxSim scoring pass below must not run on the 1-2 tasks
    // AQE's byte-based coalescing leaves this tiny table with
    val cand = graft.ops.Dedup.spreadEager(
      lists.join(graft.ops.Hints.maybeBroadcast(probes),
        Seq("j", "centroid_id"))
      .filter(col("qid") =!= col("cid"))
      .groupBy(col("qid"), col("cid"))
      .agg(min(col("probe_rank")).as("first_probe")))
    val qSide = emb.select(col("vec_id").as("qid"),
      col("embedding").cast("array<float>").as("qv"))
    val cSide = emb.select(col("vec_id").as("cid"),
      col("embedding").cast("array<float>").as("cv"))
    // fused kernel (r15) — bit-identical to the composed chain
    val score = maxsim_score(col("qv"), col("cv"), m, sub)
    // the MaxSim scoring pass runs once; every curve point ranks a
    // nested subset of this pinned table
    val scored = graft.ops.Dedup.materialize(cand
      .join(graft.ops.Hints.maybeBroadcast(qSide), Seq("qid"))
      .join(cSide, Seq("cid"))
      .withColumn("maxsim_r", round(score, 4))
      .select(col("qid"), col("cid"), col("first_probe"),
        col("maxsim_r")))
    val exact = graft.ops.Dedup.materialize(
      maxsimRank(s, dir).select(col("qid"), col("cid")))
    val total = exact.agg(count(lit(1)).as("n_exact"))
    // ONE windowed pass over all curve points (r15): the per-budget
    // union ran |curve| window+join+aggregate branches over the same
    // pinned `scored` table — replicating each scored row to every
    // budget that retains it (candidate sets nest, ≤ |curve|× the
    // tiny candidate table) turns the sweep into a single window
    // partitioned by (nprobe, qid) plus one join and one aggregate.
    // Row-for-row identical: rank-within-(p, qid) ≡ rank-within-qid
    // over the `first_probe <= p` subset, and the left join restores
    // the hits=0 row an empty global aggregate used to emit.
    import s.implicits._
    val budgetsDf = budgets.toDF("nprobe")
    val hitsPerP = scored
      .join(broadcast(budgetsDf), col("first_probe") <= col("nprobe"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("nprobe"), col("qid"))
          .orderBy(col("maxsim_r").desc, col("cid"))))
      .filter(col("rnk") <= 3)
      .select(col("nprobe"), col("qid"), col("cid"))
      .join(exact, Seq("qid", "cid"))
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).as("__hits"))
    budgetsDf.join(broadcast(hitsPerP), Seq("nprobe"), "left")
      .crossJoin(broadcast(total))
      .select(col("nprobe"), col("n_exact"),
        coalesce(col("__hits"), lit(0L)).as("hits"))
      .withColumn("recall_e6", expr("hits * 1000000 DIV n_exact"))
      .orderBy(col("nprobe"))
  }

  /** Deterministic PLANTED-CLUSTER embedding corpus — the data regime
    * IVF exists for, derived in-query so the small-fraction serving
    * claim is CERTIFIABLE instead of prose: the synthetic test
    * embeddings are uniform-on-sphere (no cluster structure), which
    * forces half-coverage probing ([[Similarity.halfNprobe]]'s
    * measured curve) — recall at nlist/8 on THAT corpus says nothing
    * about the clustered corpora 100 TB serving actually sees. Here
    * every vec_id keeps its row but its vector becomes
    * center(vec_id % 32) + bounded noise: center components are
    * integer-hashed from the cluster id into ±1.019 (center norm
    * ≈ 4.7), per-(id, dim) noise into ±0.12 (norm ≈ 0.55), so
    * intra-cluster cosines sit near 0.99 while inter-cluster cosines
    * are near-orthogonal 64-d noise — 32 well-separated planted
    * clusters, each holding its members' true neighbors.
    *
    * Every term is pure int64 arithmetic (products bounded ≪ 2⁶³)
    * divided by 1000.0 and rounded to float, so the SAME doubles
    * materialize in DuckDB's list comprehension ([[clusteredEmbSql]])
    * and the whole serving chain — codebook, assignment, probes,
    * re-rank, recall — hash-replays end to end. Memoized +
    * materialized: the clustered corpus is the shared input of the
    * certification pair and their exact ground truths.
    */
  private def clusteredEmb(s: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(s, dir, "clustered-emb")(
      graft.ops.Dedup.materialize(
        t(s, dir, "embeddings").select(col("vec_id"),
          transform(sequence(lit(0), lit(63)), d => {
            val c = col("vec_id") % 32L
            val center =
              (c * 524287L + d.cast("long") * 8191L + 1L) * 73856093L %
                2039L - 1019L
            val noise =
              (col("vec_id") * 64L + d.cast("long")) * 19349663L %
                241L - 120L
            ((center + noise) / lit(1000.0)).cast("float")
          }).as("embedding"))))

  /** Exact cosine top-3 over the planted-cluster corpus — the ground
    * truth both clustered certifications gate against; memoized like
    * [[exactGroundTruth]].
    */
  private def clusteredExactTop3(s: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(s, dir, "clustered-exact") {
      val emb = clusteredEmb(s, dir)
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val corpus = graft.ops.Dedup.spread(
        emb.select(col("vec_id").as("cid"), col("embedding").as("cv")))
      graft.ops.Dedup.materialize(
        graft.ops.Hints.chunkedBroadcastThetaJoin(corpus, queries,
            chunkKey = col("qid"), cond = col("qid") =!= col("cid"))
          .withColumn("sim_r", round(cosine_sim(col("qv"), col("cv")), 4))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("sim_r").desc, col("cid"))))
          .filter(col("rnk") <= 3)
          .select(col("qid"), col("cid")))
    }

  /** Shared recall-accounting row for the clustered certifications:
    * (nlist, nprobe, n_exact, hits, recall_e6, floor_met) — the
    * budget is ON the row (the whole point is certifying WHICH
    * nprobe served), recall is exact-integer, and the floor is a
    * value check because the entire chain replays in the oracle.
    */
  private def clusteredRecallRow(approx: DataFrame, exact: DataFrame,
                                 nlist: Int, nprobe: Int,
                                 floorPct: Int): DataFrame = {
    val total = exact.agg(count(lit(1)).as("n_exact"))
    approx.select(col("qid"), col("cid"))
      .join(exact.select(col("qid"), col("cid")), Seq("qid", "cid"))
      .agg(count(lit(1)).as("hits"))
      .crossJoin(broadcast(total))
      .select(lit(nlist).cast("int").as("nlist"),
        lit(nprobe).cast("int").as("nprobe"),
        col("n_exact"), col("hits"))
      .withColumn("recall_e6", expr("hits * 1000000 DIV n_exact"))
      .withColumn("floor_met",
        (col("recall_e6") >= lit(floorPct * 10000L)).cast("int"))
  }

  /** The CLUSTERED-corpus ANN serving certification — the suite's
    * central 100 TB small-fraction claim as a green row instead of an
    * adjudication: the full IVF serving machinery (√n-stride sampled
    * codebook, scan-stage assignment, equi-join candidates,
    * candidate-bounded exact re-rank — [[Similarity
    * .ivfTopKWithCodebook]], byte-identical to what serves
    * `ann_ivf`) runs over the planted-cluster corpus at
    * [[Similarity.derivedNprobe]] — nlist/8, a CONSTANT EIGHTH of the
    * lists — and must clear a 90% recall floor against the exact
    * top-3. Measured recall: 1.0 at all three SFs (sampled centroids
    * are cluster members, so each cluster's ~nlist/32 lists rank
    * first in its queries' probe order and nlist/8 covers them with
    * margin) — vs 0.64 at the same budget on the uniform corpus
    * (halfNprobe's curve): the pair of rows IS the
    * clustered↔unclustered spectrum, measured. Fully hash-replayed:
    * generation, codebook, assignment, probes, re-rank, and the
    * recall arithmetic all recompute in DuckDB.
    */
  /** The planted corpus's √n-stride codebook, collected ONCE per dir
    * and shared by all three clustered certifications; a per-query
    * re-collect would duplicate the corpus filter + orderBy + driver
    * collect every invocation.
    */
  private def clusteredCodebook(s: SparkSession, dir: String)
      : Array[(Long, Seq[Float])] =
    graft.Memo.value(dir, "clustered-cb") {
      val emb = clusteredEmb(s, dir)
      graft.ops.Similarity.sampledCodebook(emb, "vec_id", "embedding",
        graft.ops.Similarity.sqrtStride(emb.count()))
    }

  def annIvfClustered(s: SparkSession, dir: String): DataFrame = {
    val emb = clusteredEmb(s, dir)
    val cb = clusteredCodebook(s, dir)
    val nprobe = graft.ops.Similarity.derivedNprobe(cb.length)
    val approx = graft.ops.Similarity.ivfTopKWithCodebook(
      emb, "vec_id", "embedding",
      queryPred = col("vec_id") % 20 === 0, k = 3,
      nprobe = nprobe, codebook = cb)
    clusteredRecallRow(approx, clusteredExactTop3(s, dir),
      nlist = cb.length, nprobe = nprobe, floorPct = 90)
  }

  /** Exact MaxSim top-3 over the planted-cluster corpus
    * ([[maxsimRankOver]] — identical arithmetic to `maxsim_rank`),
    * memoized as [[maxsimIvfClustered]]'s ground truth.
    */
  private def clusteredExactMaxsim3(s: SparkSession, dir: String)
      : DataFrame =
    graft.Memo.frame(s, dir, "clustered-maxsim")(
      graft.ops.Dedup.materialize(
        maxsimRankOver(clusteredEmb(s, dir))
          .select(col("qid"), col("cid"))))

  /** The CLUSTERED-corpus MaxSim serving certification — the PLAID
    * small-fraction regime on the late-interaction route: the SAME
    * per-facet candidate generation + candidate-bounded 16-cosine
    * re-rank that serves `maxsim_ivf` ([[maxsimIvfApproxOver]] — one
    * body, two budgets) runs over the planted-cluster corpus at
    * [[Similarity.derivedNprobe]] per facet (nlist/8 — `maxsim_ivf`
    * on the uniform corpus is forced to nlist/2) and must clear a 90%
    * recall floor against the exact MaxSim top-3. Measured recall:
    * 1.0 at all three SFs — cluster structure exists in every 16-d
    * facet (centers differ per dim), so each facet's probe order
    * front-loads its own cluster's lists. This converts the MaxSim
    * family's 100 TB serving claim (exponents 0.66–0.76 were
    * uniform-corpus-forced, not machinery-limited) into a certified
    * row. Fully hash-replayed end to end.
    */
  def maxsimIvfClustered(s: SparkSession, dir: String): DataFrame = {
    val emb = clusteredEmb(s, dir)
    val cb = clusteredCodebook(s, dir)
    val approx = maxsimIvfApproxOver(emb,
      graft.ops.Similarity.derivedNprobe, cbOpt = Some(cb))
    clusteredRecallRow(approx, clusteredExactMaxsim3(s, dir),
      nlist = cb.length,
      nprobe = graft.ops.Similarity.derivedNprobe(cb.length),
      floorPct = 90)
  }

  /** The planted-cluster corpus with a metadata label INDEPENDENT of
    * cluster membership: label = (vec_id DIV 32) % 10 — consecutive
    * vec_ids cycle clusters (vec_id % 32), so each label block spans
    * many clusters and each cluster spans labels (a raw `vec_id % 10`
    * would correlate with the cluster id through the shared modulus).
    * Pure integer arithmetic, replayed verbatim in the oracle.
    */
  private def clusteredEmbLabeled(s: SparkSession, dir: String): DataFrame =
    clusteredEmb(s, dir).withColumn("label",
      pmod(expr("vec_id DIV 32"), lit(10L)))

  /** Exact FILTERED top-3 over the planted-cluster corpus — the
    * ground truth [[annFilteredClustered]] gates against; memoized
    * like [[exactFilteredTop3]].
    */
  private def clusteredExactFiltered3(s: SparkSession, dir: String)
      : DataFrame =
    graft.Memo.frame(s, dir, "clustered-filtered-exact") {
      val emb = clusteredEmbLabeled(s, dir)
      val queries = emb.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("embedding").as("qv"))
      val corpus = graft.ops.Dedup.spread(
        emb.select(col("vec_id").as("cid"), col("label").as("clabel"),
          col("embedding").as("cv")))
      graft.ops.Dedup.materialize(
        graft.ops.Hints.chunkedBroadcastThetaJoin(corpus, queries,
            chunkKey = col("qid"),
            cond = col("qid") =!= col("cid") &&
              col("clabel") === col("qlabel"))
          .withColumn("sim_r", round(cosine_sim(col("qv"), col("cv")), 4))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("qid"))
              .orderBy(col("sim_r").desc, col("cid"))))
          .filter(col("rnk") <= 3)
          .select(col("qid"), col("cid")))
    }

  /** The FILTERED-search budget collapse on clustered data, certified
    * — [[Similarity.filteredNprobe]]'s scaladoc claims the filtered
    * budget collapses toward [[Similarity.derivedNprobe]] on a
    * clustered corpus (a filtered query's true neighbors share its
    * cluster, so the label filter no longer decouples probe rank from
    * where they live — the thinning that forces 3/4 coverage on
    * uniform data); this row proves it: the SAME in-plan filtered
    * chain ([[annFilteredTop3Over]] — one body, two budgets) over the
    * planted corpus with a cluster-independent label, served at
    * nlist/8, 90% recall floor (measured 1.0 at all SFs). Together
    * with `ann_filtered_recall` (uniform, 3/4 coverage) the pair
    * prices filtered serving across the data-geometry spectrum.
    */
  def annFilteredClustered(s: SparkSession, dir: String): DataFrame = {
    val emb = clusteredEmbLabeled(s, dir)
    // the label is not part of the codebook, so the unlabeled
    // clustered memo serves here too
    val cb = clusteredCodebook(s, dir)
    val approx = annFilteredTop3Over(emb,
      graft.ops.Similarity.derivedNprobe, cbOpt = Some(cb))
    clusteredRecallRow(approx, clusteredExactFiltered3(s, dir),
      nlist = cb.length,
      nprobe = graft.ops.Similarity.derivedNprobe(cb.length),
      floorPct = 90)
  }

  /** Dedup-threshold TUNING CURVE — the sweep run before fixing a
    * near-dup threshold, priced as ONE pair computation (the
    * [[annRecallCurve]] one-search discipline applied to dedup): the
    * exact windowed char-3-gram Jaccard pairs are computed once at
    * the curve's LOWEST point (0.3) and pinned; every curve point
    * t ∈ {0.3 … 0.8} is then a filter + two cell aggregates over that
    * table — (thr_e2, n_pairs, n_docs) where n_docs counts documents
    * involved in ≥1 pair at that threshold. Monotone nonincreasing in
    * t BY CONSTRUCTION (pair sets nest) — pinned in the spec. The
    * naive sweep would recompute the pair join |curve| times.
    *
    * The windowed-exact kernel is the oracle-checkable harness (same
    * contract as [[ngramJaccard]]); the 100 TB candidate source is
    * the LSH index (`dedup_minhash`), whose banding would be re-tuned
    * per threshold — exactly why the curve is measured on the exact
    * pair set first.
    */
  def dedupThresholdCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = graft.ops.Dedup.materialize(
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, window = 20, threshold = 0.3))
    val thrs = Seq(30, 40, 50, 60, 70, 80).toDF("thr_e2")
    val hit = pairs.crossJoin(broadcast(thrs))
      .filter(col("jaccard") >= col("thr_e2").cast("double") / 100.0)
    val nPairs = hit.groupBy(col("thr_e2")).agg(count(lit(1)).as("n_pairs"))
    val nDocs = hit
      .select(col("thr_e2"),
        explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
      .groupBy(col("thr_e2")).agg(count(lit(1)).as("n_docs"))
    thrs.join(nPairs, Seq("thr_e2"), "left")
      .join(nDocs, Seq("thr_e2"), "left")
      .select(col("thr_e2"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy(col("thr_e2"))
  }

  /** Simplified-silhouette cluster-quality gate (Vendramin, Campello,
    * Hruschka, "Relative clustering validity criteria", 2010 —
    * the centroid-based silhouette): per point, a = cosine distance
    * to its OWN (nearest) centroid and b = distance to the
    * second-nearest, s = (b − a)/max(a, b) ∈ [−1, 1]; emitted as
    * per-cluster (n, Σs, min, max) in e6 fixed point. The classical
    * silhouette is O(n²) (all-pairs distances); the simplified form
    * is the standard linear-cost proxy — ONE scan-stage argmax over
    * the literal codebook (the IVF assignment shape: zero shuffle
    * corpus → cluster), then a (cluster)-keyed aggregate of integer
    * cells with map-side combine.
    *
    * Deterministic end to end: the codebook stride is derived from a
    * corpus COUNT (⌊√n⌋ → k ≈ √n clusters, the standard clustering
    * heuristic — distinct from the IVF family's ⌊√n/4⌋ LIST sizing
    * because here the centroid count IS the cluster count, and a
    * fixed stride would make k ∝ n), so the sampled codebook is
    * SQL-expressible at any SF; `nearest_centroids` ties break by
    * centroid id, and both engines evaluate the identical double
    * expression before the e6 floor — so the oracle
    * full-hash-replays assignment, second-nearest lookup, and the
    * silhouette arithmetic. Zero-norm vectors (NaN cosine) are
    * excluded, mirroring the kernel's NaN skip.
    */
  def silhouetteGate(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val stride = math.max(1L,
      math.floor(math.sqrt(emb.count().toDouble)).toLong).toInt
    val codebook = Similarity.sampledCodebook(
      emb, "vec_id", "embedding", stride = stride, maxCentroids = 1 << 14)
    val centsLit = typedLit(codebook.map(_._2).toSeq)
    val idsLit = typedLit(codebook.map(_._1).toSeq)
    def centVec(cid: org.apache.spark.sql.Column) =
      try_element_at(centsLit, array_position(idsLit, cid).cast("int"))
    val assigned = graft.ops.Dedup.spread(
        emb.select(col("vec_id").as("id"),
          col("embedding").cast("array<float>").as("v")))
      .withColumn("nn", nearest_centroids(col("v"), centsLit, idsLit, 2))
      .withColumn("cluster_id", try_element_at(col("nn"), lit(1)))
      .withColumn("second_id", try_element_at(col("nn"), lit(2)))
      .filter(col("cluster_id").isNotNull && col("second_id").isNotNull)
    val s1 = cosine_sim(col("v"), centVec(col("cluster_id")))
    val s2 = cosine_sim(col("v"), centVec(col("second_id")))
    // a = 1−s1, b = 1−s2 (s1 ≥ s2 by the argmax order), written as
    // the textbook (b−a)/max(a,b) so the oracle mirrors it verbatim
    val den = greatest(lit(1.0) - s1, lit(1.0) - s2)
    val sil = when(den > 0, (s1 - s2) / den).otherwise(lit(0.0))
    assigned.withColumn("s_e6", floor(sil * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"), sum(col("s_e6")).as("sum_s_e6"),
        min(col("s_e6")).as("min_s_e6"), max(col("s_e6")).as("max_s_e6"))
      .orderBy(col("cluster_id"))
  }

  /** The exact brute-force scan is the most expensive join in the
    * suite and BOTH ANN recall gates need the same k=3 ground truth,
    * so it is computed once per dataset and pinned via
    * localCheckpoint — the materialized table is tiny (|queries|·k
    * rows), only the scan that builds it is big. `ann_topk` itself
    * stays uncached: it IS the headline exact query being timed.
    */
  private def exactGroundTruth(s: SparkSession, dir: String, k: Int): DataFrame =
    graft.Memo.frame(s, dir, s"ann-exact:$k")(
      graft.ops.Dedup.materialize(exactTopK(s, dir, k)))

  /** Shared recall-gate core: join an approximate top-k result against
    * the exact one and emit (n_queries, recall_floor_pct, floor_met).
    * `sum` over zero rows is NULL, so the hit count is coalesced after
    * the aggregate too — an empty input passes vacuously (0 ≥ 0)
    * instead of emitting a NULL-poisoned 0.
    */
  private def recallGate(approx: DataFrame, exact: DataFrame,
                         k: Int, floorPct: Int): DataFrame =
    approx.select(col("qid"), col("cid"))
      .join(exact.select(col("qid"), col("cid")).withColumn("__hit", lit(1L)),
        Seq("qid", "cid"), "left")
      .agg(
        countDistinct(col("qid")).as("n_queries"),
        sum(coalesce(col("__hit"), lit(0L))).as("__hits"))
      .select(
        col("n_queries"),
        lit(floorPct).as("recall_floor_pct"),
        when(coalesce(col("__hits"), lit(0L)) * 100
               >= col("n_queries") * k * floorPct, 1)
          .otherwise(0).as("floor_met"))

  /** Driver-visible recall gate for [[dedupMinhash]]: ground truth is
    * the exact word-3-shingle Jaccard ≥ 0.7 pair set over an id window
    * ([[Dedup.shingleJaccardPairs]] — the same set semantics the
    * MinHash signatures approximate, and cheap enough to enumerate
    * within the window). Every windowed MinHash pair is exact-verified
    * ≥ 0.7 by construction (precision 1), so the open question LSH
    * banding leaves — and this gate pins — is recall. The oracle
    * recomputes `n_exact_pairs` from raw text in SQL (a real value
    * check of the shingle/Jaccard kernels) and asserts `floor_met`.
    */
  def dedupMinhashRecall(s: SparkSession, dir: String): DataFrame = {
    val window = 20L
    val floorPct = 80
    val docs = t(s, dir, "documents")
    val exact = Dedup.shingleJaccardPairs(docs, "doc_id", "text",
        n = 3, window = window, threshold = 0.7)
      .select(col("id_a"), col("id_b"))
    val mh = Dedup.minhashPairs(docs, "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 8, threshold = 0.7)
      .filter(col("id_b") - col("id_a") <= window)
      .select(col("id_a"), col("id_b"))
    exact.join(mh.withColumn("__hit", lit(1L)), Seq("id_a", "id_b"), "left")
      .agg(
        count(lit(1)).as("n_exact_pairs"),
        sum(coalesce(col("__hit"), lit(0L))).as("__hits"))
      .select(
        col("n_exact_pairs"),
        lit(floorPct).as("recall_floor_pct"),
        // post-aggregate coalesce: sum over zero rows is NULL and an
        // empty exact pair set must pass vacuously, not NULL-fail
        when(coalesce(col("__hits"), lit(0L)) * 100
               >= col("n_exact_pairs") * floorPct, 1)
          .otherwise(0).as("floor_met"))
  }

  /** Driver-visible completeness gate for [[dedupSimhash]] — the last
    * approximate family without one. Ground truth is the exact
    * windowed XOR-popcount join: every (a, b) pair with
    * `id_b - id_a ≤ 20` gets its Hamming distance computed DIRECTLY
    * on the signatures (no banding involved), and `complete` asserts
    * that every Hamming-≤3 pair is also produced by the banded
    * candidate path — the pigeonhole guarantee (maxHamming+1 bands)
    * made checkable, so a band-split/mask regression turns the row
    * red. `sig_diverse` (distinct signatures ≥ half the corpus) kills
    * the degenerate pass where a collapsed signature kernel makes
    * every pair "duplicate"; `has_dups` pins that the corpus really
    * exercises the radius (verified at sf0.001/0.01/0.1). The
    * signature arithmetic itself is not DuckDB-expressible (64-bit
    * xxhash wraparound), so the oracle recomputes `n_window_pairs`
    * from the id domain and pins the three flags. The windowed
    * ground-truth join is bucket-replicated (each left id rides to
    * buckets ⌊id/w⌋ and ⌊id/w⌋+1) so it stays an equi-join at scale —
    * never an all-pairs product.
    */
  def dedupSimhashRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val window = 20L
    val maxHamming = 3
    val docs = t(s, dir, "documents")
    val sigs = docs.select(col("doc_id").as("id"),
      simhash64(token_hashes(col("text"))).as("sig")).persist()
    // pair (a,b) with b ∈ (a, a+w] has ⌊b/w⌋ ∈ {⌊a/w⌋, ⌊a/w⌋+1}:
    // replicating the left side to both buckets matches each pair
    // exactly once (the right bucket is single-valued)
    val left = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"),
      explode(array(floor(col("id") / window),
        floor(col("id") / window) + 1)).as("bkt"))
    val right = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"),
      floor(col("id") / window).as("bkt"))
    val windowed = left.join(right, Seq("bkt"))
      .filter(col("id_b") > col("id_a") &&
        col("id_b") <= col("id_a") + window)
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
    val nWindow = windowed.count()
    val cand = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming)
      .filter(col("id_b") - col("id_a") <= window)
      .select(col("id_a"), col("id_b"), lit(1L).as("__hit"))
    val dupAgg = windowed.filter(col("hamming") <= maxHamming)
      .join(cand, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_dup"),
        sum(coalesce(col("__hit"), lit(0L))).as("hits"))
      .head()
    val nDup = dupAgg.getLong(0)
    val hits = if (dupAgg.isNullAt(1)) 0L else dupAgg.getLong(1)
    val sigAgg = sigs.agg(countDistinct(col("sig")).as("d"),
      count(lit(1)).as("n")).head()
    sigs.unpersist()
    Seq((nWindow,
        if (nDup > 0) 1 else 0,
        if (hits == nDup) 1 else 0,
        if (2 * sigAgg.getLong(0) >= sigAgg.getLong(1)) 1 else 0))
      .toDF("n_window_pairs", "has_dups", "complete", "sig_diverse")
  }

  /** IVF-style ANN: deterministic coarse quantizer + inverted lists +
    * nprobe search ([[graft.ops.Similarity.ivfTopK]]). Rows-only;
    * recall driver-gated by [[annIvfRecall]].
    *
    * Tuning is measurement-driven: the synthetic embeddings have weak
    * cluster structure, so true neighbors spread across inverted lists
    * and a FIXED nprobe collapses as the list count grows with the
    * corpus (old 97/3 config: top-3 recall 0.63 → 0.37 from sf0.001 to
    * sf0.1). 149/7 holds 1.0/1.0/0.787 across the SFs. At 100 TB the
    * operative rule is that nprobe must track nlist (probe a roughly
    * constant list fraction) unless the embedding space is genuinely
    * clustered — both are knobs on [[graft.ops.Similarity.ivfTopK]].
    */
  def annIvf(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.ivfTopK(t(s, dir, "embeddings"),
        "vec_id", "embedding", queryPred = col("vec_id") % 20 === 0,
        k = 3, centroidEvery = 149, nprobe = 7)
      .orderBy(col("qid"), col("rnk"))

  /** RETRIEVAL-QUALITY evaluation of the IVF index, per query — the
    * granular companion to `ann_ivf_recall`'s single floor number:
    * for every query vector, the EXACT nearest neighbor (brute-force
    * top-1) and its rank inside the IVF top-3 (0 = missed). All
    * integers, so the evaluation row set hash-compares — this is the
    * table an index-tuning session actually reads (WHICH queries
    * miss, and whether the true neighbor sat at rank 2–3 or outside),
    * where the recall gate only says how many. Cost: the exact
    * baseline is the chunked bounded-broadcast theta join `ann_topk`
    * already prices; the join back to the IVF result is
    * queries×k rows.
    */
  def annRankEval(s: SparkSession, dir: String): DataFrame = {
    val exact1 = exactTopK(s, dir, k = 1)
      .select(col("qid"), col("cid").as("true_cid"))
    val ivf = graft.ops.Similarity.ivfTopK(t(s, dir, "embeddings"),
        "vec_id", "embedding", queryPred = col("vec_id") % 20 === 0,
        k = 3, centroidEvery = 149, nprobe = 7)
      .select(col("qid").as("iqid"), col("cid").as("icid"), col("rnk"))
    exact1.join(ivf,
        col("qid") === col("iqid") && col("true_cid") === col("icid"),
        "left")
      .select(col("qid"), col("true_cid"),
        coalesce(col("rnk"), lit(0)).as("ivf_rank"),
        when(col("rnk").isNotNull, lit(1)).otherwise(lit(0)).as("hit"))
      .orderBy(col("qid"))
  }

  /** IVF over a TRAINED spherical-k-means coarse quantizer — the
    * Faiss-style production shape (`ann_ivf` keeps the data-sampled
    * codebook as the training-free baseline). nlist tracks the corpus
    * (n/149, floor 4) and nprobe stays 7 — the same centroid density
    * and probe budget as `ann_ivf`, so the comparison ISOLATES
    * training; four Lloyd iterations refine the seed sample (sweep:
    * 2/4/6 iters → 0.857/0.873/0.863 at sf0.1; more probes lift
    * further — nprobe 9 reaches 0.94 — but that knob is shared).
    * Training cost is bounded: one corpus scan per iteration, k·d
    * driver cells. Measured top-3 recall at the shared 7-probe
    * budget: 1.0/1.0/0.873 at sf0.001/0.01/0.1 vs the sampled
    * codebook's 1.0/1.0/0.787 — trained cells are tighter, so the
    * same nprobe catches more true neighbors. Deterministic (fixed
    * seeds); rows-only + the `ann_ivf_trained_recall` gate.
    */
  def annIvfTrained(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val codebook = graft.Memo.value(dir, "ivf-trained") {
      val nlist = math.max(4, (emb.count() / 149).toInt)
      val (cents, _) = Similarity.kmeansTrain(
        emb, "vec_id", "embedding", k = nlist, iters = 4)
      cents.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
    }
    Similarity.ivfTopKWithCodebook(emb, "vec_id", "embedding",
        queryPred = col("vec_id") % 20 === 0, k = 3, nprobe = 7,
        codebook = codebook)
      .orderBy(col("qid"), col("rnk"))
  }

  /** Driver-visible recall gate for [[annIvfTrained]] — same contract
    * as [[annIvfRecall]], with the floor raised to 75: the trained
    * quantizer's measured 0.873 worst-case leaves regen margin the
    * sampled codebook's 0.787 could not give a floor above 60.
    */
  def annIvfTrainedRecall(s: SparkSession, dir: String): DataFrame =
    recallGate(annIvfTrained(s, dir), exactGroundTruth(s, dir, k = 3),
      k = 3, floorPct = 75)

  /** IVF-PQ ANN (IVFADC+R): inverted lists probed as in `ann_ivf`,
    * candidates ranked on PQ-reconstructed cosine (corpus side = m=16
    * one-byte codes, 16× smaller than raw vectors), then the top-128
    * shortlist re-ranked exactly. Measured top-3 recall
    * 0.92/0.93/0.77 at sf0.001/0.01/0.1 — the plain-IVF probe
    * ceiling; the quantization costs nothing after re-rank.
    * Deterministic; rows-only, gated by `ann_ivfpq_recall`.
    */
  def annIvfpq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cbs = graft.Memo.value(dir, "pq:16:16:2") {
      Similarity.kmeansTrainMulti(emb, "vec_id", "embedding",
        m = 16, k = 16, iters = 2)._1
    }
    Similarity.ivfpqTopK(emb,
        "vec_id", "embedding", queryPred = col("vec_id") % 20 === 0,
        k = 3, m = 16, rerank = 128, pqCodebooksOpt = Some(cbs))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Driver-visible recall gate for [[annIvfpq]] — same contract and
    * 60% floor as [[annIvfRecall]] (measured 0.77 at the weakest SF).
    */
  def annIvfpqRecall(s: SparkSession, dir: String): DataFrame =
    recallGate(annIvfpq(s, dir), exactGroundTruth(s, dir, k = 3),
      k = 3, floorPct = 60)

  /** [[Similarity.ivfIndexWrite]] + [[Similarity.ivfIndexedSearch]]
    * driven end-to-end: the IVF index PERSISTED as a parquet table
    * partitioned by list id (built once per dir, memoized), then one
    * query (vec_id 0) served by reading ONLY its 7 probed list
    * partitions — `PartitionFilters` in the scan, pinned by PlanSpec;
    * the storage-layer face of IVF's sublinearity. The oracle is the
    * ann_ivf replay restricted to this query: the persisted index and
    * the in-plan equi-join MUST return identical neighbors.
    */
  /** The rebuilt-from-everything persisted index + its shared codebook
    * (memoized per dir): serves `ann_ivf_indexed` directly and is the
    * ground truth `ann_ivf_delta`'s incrementally-maintained index
    * must be indistinguishable from. The quantizer stride is
    * count-derived ([[Similarity.sqrtStride]] — nlist tracks 4·√n, so
    * the BUILD is O(n^1.5) where the r10 fixed-149 stride made it
    * O(n²)), and searches probe [[Similarity.derivedNprobe]] lists (a
    * roughly constant list fraction — the `ann_ivf` scaladoc rule).
    * Both rules are count-not-sample deterministic, so the oracle
    * recomputes stride and nprobe in SQL.
    */
  private def fullIvfIndex(s: SparkSession, dir: String)
      : (String, Array[(Long, Seq[Float])]) =
    graft.Memo.value(dir, "ivf-index") {
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.sampledCodebook(emb, "vec_id", "embedding",
        Similarity.sqrtStride(emb.count()))
      val p = graft.TempDirs.create("graft_ivf_index").toString
      Similarity.ivfIndexWrite(Dedup.spread(emb), "vec_id", "embedding", p,
        cb, ListCodec.Flat, ListLayout.ByList)
      (p, cb)
    }

  def annIvfIndexed(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (path, codebook) = fullIvfIndex(s, dir)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<float>"))
      .head().getSeq[Float](0)
    Similarity.ivfIndexedSearch(s, path, codebook,
        qid = 0L, qlabel = None, qv = qv,
        nprobe = Similarity.derivedNprobe(codebook.length), k = 3)
      .orderBy(col("rnk"))
  }

  /** INCREMENTAL IVF index maintenance driven end to end
    * ([[graft.ops.Similarity.ivfIndexMerge]]): the base index
    * holds 6/7 of the corpus (derived by restriction from the
    * memoized full index — content-identical to a from-raw build),
    * the remaining 1/7 — including
    * the query vector itself (vec_id 0 ≡ 0 mod 7) — arrives as a
    * delta batch appended under the SHARED codebook with the touched
    * lists compacted via dynamic partition overwrite. The served
    * search runs over the maintained index; `delta_consistent` pins
    * set-equality against the same search over the
    * rebuilt-from-everything index ([[fullIvfIndex]] — assignment
    * depends only on (vector, codebook), so arrival order cannot move
    * a row between lists). The oracle replays the full-corpus IVF
    * search for this query and pins the flag — maintenance must be
    * indistinguishable from rebuild, the `hll_incremental` /
    * `minhash_incremental` contract at the storage layer.
    */
  /** The incrementally-MAINTAINED persisted IVF index (base = 6/7 of
    * the corpus under the shared codebook, then the remaining 1/7
    * appended via the crash-consistent staging loop) — memoized per
    * dir; shared by `ann_ivf_delta` (serves a search over it) and
    * `ann_index_manifest` (value-checks its per-list occupancy).
    * The base is DERIVED from the memoized full index by restriction
    * ([[Similarity.ivfIndexDerive]] — assignment depends only on
    * (vector, codebook), so the filter-copy is bit-identical to a
    * 6/7 re-build without paying the assignment argmax twice; the
    * from-raw build path itself is crash-window-tested in
    * IvfIndexSpec). Only the delta APPEND — the loop under test —
    * runs against raw vectors.
    */
  private def maintainedIvfIndex(s: SparkSession, dir: String,
                                 fullPath: String,
                                 codebook: Array[(Long, Seq[Float])])
      : String =
    graft.Memo.value(dir, "ivf-delta") {
      val emb = t(s, dir, "embeddings")
      val p = graft.TempDirs.create("graft_ivf_delta").toString
      Similarity.ivfIndexDerive(s, fullPath, p, col("cid") % 7 =!= 0,
        ListLayout.ByList)
      Similarity.ivfIndexMerge(s, p, codebook, ListCodec.Flat,
        ListLayout.ByList, emb.filter(col("vec_id") % 7 === 0),
        "vec_id", "embedding", forget = false)
      p
    }

  def annIvfDelta(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (fullPath, codebook) = fullIvfIndex(s, dir)
    val deltaPath = maintainedIvfIndex(s, dir, fullPath, codebook)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<float>"))
      .head().getSeq[Float](0)
    def search(path: String) =
      Similarity.ivfIndexedSearch(s, path, codebook,
        qid = 0L, qlabel = None, qv = qv,
        nprobe = Similarity.derivedNprobe(codebook.length), k = 3)
    val served = search(deltaPath)
    val rebuilt = search(fullPath)
    val consistent = sameMultiset(served, rebuilt)
    served.withColumn("delta_consistent",
        lit(if (consistent) 1 else 0))
      .orderBy(col("rnk"))
  }

  /** RIGHT-TO-BE-FORGOTTEN propagated to the persisted ANN index
    * ([[graft.ops.Similarity.ivfIndexMerge]]) — the lifecycle stage
    * `forget_user` covers at the table layer, completing the index's
    * maintenance family: build (`ann_ivf_indexed`) → delta append
    * (`ann_ivf_delta`) → FORGET → manifest (`ann_index_manifest`).
    * A full-corpus index instance is DERIVED from the memoized base
    * index (a filter-copy — [[Similarity.ivfIndexDerive]]; building a
    * second identical index from raw vectors would pay the
    * O(n·nlist·d) assignment argmax twice for bit-identical content),
    * then every vec_id ≡ 5 mod 13 is deleted through the durable-staging →
    * idempotent-publish loop (touched lists rewritten as survivors,
    * emptied lists' directories removed), and the served search must
    * equal the IVF replay over the SURVIVING corpus — the forgotten
    * vectors are not merely unreturned, they are gone from the
    * stored lists (IvfIndexSpec pins content equality against a
    * rebuild-from-survivors, including the emptied-list case on a
    * synthetic index).
    */
  def annIndexForget(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (fullPath, codebook) = fullIvfIndex(s, dir)
    val path = graft.Memo.value(dir, "ivf-forget") {
      val p = graft.TempDirs.create("graft_ivf_forget").toString
      Similarity.ivfIndexDerive(s, fullPath, p, lit(true), ListLayout.ByList)
      Similarity.ivfIndexMerge(s, p, codebook, ListCodec.Flat,
        ListLayout.ByList, emb.filter(col("vec_id") % 13 === 5),
        "vec_id", "embedding", forget = true)
      p
    }
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<float>"))
      .head().getSeq[Float](0)
    Similarity.ivfIndexedSearch(s, path, codebook,
        qid = 0L, qlabel = None, qv = qv,
        nprobe = Similarity.derivedNprobe(codebook.length), k = 3)
      .orderBy(col("rnk"))
  }

  /** Index-layer reconciliation MANIFEST — the `partition_manifest`
    * family applied to the persisted ANN index: per-list row counts
    * read from the incrementally-MAINTAINED index
    * ([[maintainedIvfIndex]] — base build + crash-consistent delta
    * append), value-checked by the oracle against a from-scratch
    * assignment recompute of the whole corpus. One green row set
    * proves the stored physical layout holds EXACTLY the corpus
    * assignment through the build → delta lifecycle (content
    * reconciliation, not just a served search's top-k); the
    * occupancy distribution is also the operator a maintenance loop
    * reads to trigger the hot-list salting escalation
    * ([[Similarity.ivfIndexWrite]]'s documented knob) —
    * list skew is invisible in search results until it is a straggler.
    *
    * Scale shape: one scan of the index's (partition-pruned-capable)
    * parquet → |lists| count cells with map-side combine; the scan
    * reads ONLY the list-id column (column pruning — no vectors
    * deserialized).
    */
  def annIndexManifest(s: SparkSession, dir: String): DataFrame = {
    val (fullPath, codebook) = fullIvfIndex(s, dir)
    val path = maintainedIvfIndex(s, dir, fullPath, codebook)
    s.read.parquet(path)
      .groupBy(col("centroid_id").cast("long").as("centroid_id"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("centroid_id"))
  }

  /** The persisted IVF-PQ index + the two codebooks its searches
    * share (memoized per dir): the searchable state is (cid, 16-byte
    * code) partitioned by list id — 16× smaller than the raw vectors,
    * NO vector column ([[Similarity.ivfIndexWrite]]). PQ
    * sub-codebooks come from the SAME train-once memo `ann_ivfpq`
    * uses; the coarse quantizer is the count-derived √n-stride sample
    * (the `fullIvfIndex` honesty rule).
    */
  private def fullIvfpqIndex(s: SparkSession, dir: String)
      : (String, Array[(Long, Seq[Float])], ListCodec) =
    graft.Memo.value(dir, "ivfpq-index") {
      val emb = t(s, dir, "embeddings")
      val cbs = graft.Memo.value(dir, "pq:16:16:2") {
        Similarity.kmeansTrainMulti(emb, "vec_id", "embedding",
          m = 16, k = 16, iters = 2)._1
      }
      val coarse = Similarity.sampledCodebook(emb, "vec_id", "embedding",
        Similarity.sqrtStride(emb.count()))
      val p = graft.TempDirs.create("graft_ivfpq_index").toString
      Similarity.ivfIndexWrite(Dedup.spread(emb), "vec_id", "embedding", p,
        coarse, ListCodec.Pq(cbs), ListLayout.ByList)
      (p, coarse, ListCodec.Pq(cbs))
    }

  /** [[Similarity.ivfIndexWrite]] + [[Similarity.ivfAdcSearch]]
    * driven end-to-end — the serving shape `ivfpqTopK`'s scaladoc
    * promises: one query (vec_id 0) served by reading its probed CODE
    * partitions only (partition-pruned scan, PlanSpec-pinned), ADC
    * ranking over stored codes, and an exact re-rank whose raw-vector
    * scan carries the ≤128-id shortlist as a PUSHED `In` filter —
    * raw vectors beyond the shortlist are never read (IvfIndexSpec
    * pin). The oracle replays the full IVFADC+R pipeline (16 Lloyd
    * trainings, codes, reconstructions, both rank stages) restricted
    * to this query, under the same √n-stride / derived-nprobe rules.
    */
  def annIvfpqIndexed(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (path, coarse, codec) = fullIvfpqIndex(s, dir)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<float>"))
      .head().getSeq[Float](0)
    Similarity.ivfAdcSearch(s, path, coarse, codec,
        emb.select(col("vec_id").as("cid"),
          col("embedding").cast("array<float>").as("cv")),
        qid = 0L, qv = qv,
        nprobe = Similarity.derivedNprobe(coarse.length), k = 3,
        rerank = 128)
      .orderBy(col("rnk"))
  }

  /** INCREMENTAL IVF-PQ index maintenance driven end to end — the PQ
    * twin of [[annIvfDelta]] ([[Similarity.ivfIndexMerge]]):
    * the base CODE index holds 6/7 of the corpus (derived by
    * restriction from the memoized full index — content-identical
    * to a from-raw build), the
    * remaining 1/7 — including the query vector — arrives as a delta
    * encoded and assigned under the SHARED codebooks (fit-once
    * state; retraining on arrival would re-key the index), touched
    * code lists compacted through the same durable-staging →
    * idempotent-publish machinery. The served search must be
    * indistinguishable from the rebuilt-from-everything index
    * ([[fullIvfpqIndex]]) — `delta_consistent` pins set-equality and
    * the oracle replays the full IVFADC+R pipeline for this query.
    */
  def annIvfpqDelta(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (fullPath, coarse, codec) = fullIvfpqIndex(s, dir)
    val deltaPath =
      graft.Memo.value(dir, "ivfpq-delta") {
        val p = graft.TempDirs.create("graft_ivfpq_delta").toString
        // base = filter-copy of the memoized full code index (codes
        // depend only on (vector, codebooks) — re-encoding 6/7 of the
        // corpus would reproduce these rows bit-identically)
        Similarity.ivfIndexDerive(s, fullPath, p, col("cid") % 7 =!= 0,
          ListLayout.ByList)
        Similarity.ivfIndexMerge(s, p, coarse, codec, ListLayout.ByList,
          emb.filter(col("vec_id") % 7 === 0), "vec_id", "embedding",
          forget = false)
        p
      }
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<float>"))
      .head().getSeq[Float](0)
    val raw = emb.select(col("vec_id").as("cid"),
      col("embedding").cast("array<float>").as("cv"))
    def search(path: String) =
      Similarity.ivfAdcSearch(s, path, coarse, codec, raw,
        qid = 0L, qv = qv,
        nprobe = Similarity.derivedNprobe(coarse.length), k = 3,
        rerank = 128)
    val served = search(deltaPath)
    val rebuilt = search(fullPath)
    val consistent = sameMultiset(served, rebuilt)
    served.withColumn("delta_consistent",
        lit(if (consistent) 1 else 0))
      .orderBy(col("rnk"))
  }

  /** RIGHT-TO-BE-FORGOTTEN on the persisted IVF-PQ CODE index — the
    * third layout under [[graft.ops.Similarity.ivfIndexMerge]]'s
    * layout-agnostic loop (raw vectors: `ann_index_forget`; SQ codes:
    * `ann_ivfsq_forget`; PQ codes: this), completing forget across
    * every persisted index family. The forget VECTORS are assigned
    * under the shared coarse quantizer (their PQ codes are never
    * needed — where a row lives depends only on (vector, coarse
    * codebook)), touched code lists are rewritten as survivors
    * through the same durable-staging → idempotent-publish loop, and
    * the served ADC + pushed-shortlist re-rank must equal the full
    * IVFADC+R replay over SURVIVORS under fit-once codebooks (PQ
    * sub-codebooks and quantizer are NOT refit per delete — the
    * privacy-boundary note on [[annIndexForget]] applies).
    */
  def annIvfpqForget(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (fullPath, coarse, codec) = fullIvfpqIndex(s, dir)
    val path =
      graft.Memo.value(dir, "ivfpq-forget") {
        val p = graft.TempDirs.create("graft_ivfpq_forget").toString
        // filter-copy of the memoized full code index — see
        // annIndexForget; the forget loop under test is unchanged
        Similarity.ivfIndexDerive(s, fullPath, p, lit(true),
          ListLayout.ByList)
        Similarity.ivfIndexMerge(s, p, coarse, codec, ListLayout.ByList,
          emb.filter(col("vec_id") % 13 === 5), "vec_id", "embedding",
          forget = true)
        p
      }
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<float>"))
      .head().getSeq[Float](0)
    Similarity.ivfAdcSearch(s, path, coarse, codec,
        emb.select(col("vec_id").as("cid"),
          col("embedding").cast("array<float>").as("cv")),
        qid = 0L, qv = qv,
        nprobe = Similarity.derivedNprobe(coarse.length), k = 3,
        rerank = 128)
      .orderBy(col("rnk"))
  }

  /** BATCH (query-fleet) search over the persisted IVF-PQ code index
    * ([[Similarity.ivfAdcBatchSearch]]): every 20th vector
    * served in ONE plan against the stored (cid, code) lists — the
    * ADC stage reads CODES from disk and never touches raw vectors;
    * only the |Q|·rerank shortlist joins the vector table. The oracle
    * is the full IVFADC+R replay over all queries under the index's
    * √n-stride / derived-nprobe sizing.
    */
  def annIvfpqBatch(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (path, coarse, codec) = fullIvfpqIndex(s, dir)
    Similarity.ivfAdcBatchSearch(s, path, coarse, codec,
        queries = emb.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("qid"),
            col("embedding").cast("array<float>").as("qv")),
        rawVectors = emb.select(col("vec_id").as("cid"),
          col("embedding").cast("array<float>").as("cv")),
        nprobe = Similarity.derivedNprobe(coarse.length), k = 3,
        rerank = 128)
      .orderBy(col("qid"), col("rnk"))
  }

  /** Per-dimension SQ8 stats, computed once per dir (they feed three
    * driver queries; the aggregate is one corpus scan collecting 2·d
    * doubles).
    */
  private def sqStatsMemo(s: SparkSession, dir: String)
      : (Array[Double], Array[Double]) =
    graft.Memo.value(dir, "sq-stats") {
      Similarity.sqStats(t(s, dir, "embeddings"), "embedding")
    }

  /** The persisted IVF-SQ index (memoized per dir): (cid, SQ8 code)
    * lists under the SAME √n-stride coarse quantizer rule as the
    * other persisted indexes, stats from [[sqStatsMemo]]. The unique
    * property this index exists to demonstrate: NO trained state
    * anywhere in its lifecycle, so build AND search replay fully.
    */
  private def fullIvfsqIndex(s: SparkSession, dir: String)
      : (String, Array[(Long, Seq[Float])], ListCodec) =
    graft.Memo.value(dir, "ivfsq-index") {
      val emb = t(s, dir, "embeddings")
      val coarse = Similarity.sampledCodebook(emb, "vec_id", "embedding",
        Similarity.sqrtStride(emb.count()))
      val stats = sqStatsMemo(s, dir)
      val p = graft.TempDirs.create("graft_ivfsq_index").toString
      val codec = ListCodec.Sq(stats._1, stats._2)
      Similarity.ivfIndexWrite(emb, "vec_id", "embedding", p, coarse, codec,
        ListLayout.ByList)
      (p, coarse, codec)
    }

  /** [[Similarity.ivfIndexWrite]] + [[Similarity.ivfAdcSearch]]
    * driven end to end — the FULLY-REPLAYABLE persisted ANN index:
    * unlike `ann_ivfpq_indexed` (whose oracle must unroll 16 Lloyd
    * trainings to reproduce the codes), every stage here — per-dim
    * stats, affine codes, √n list assignment, partition-pruned ADC,
    * pushed-shortlist exact re-rank — is fixed-order arithmetic the
    * oracle recomputes directly. 4× smaller searchable state than the
    * raw-vector index at ≤ step/2 reconstruction error.
    */
  def annIvfsqIndexed(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (path, coarse, codec) = fullIvfsqIndex(s, dir)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<float>"))
      .head().getSeq[Float](0)
    Similarity.ivfAdcSearch(s, path, coarse, codec,
        emb.select(col("vec_id").as("cid"),
          col("embedding").cast("array<float>").as("cv")),
        qid = 0L, qv = qv,
        nprobe = Similarity.derivedNprobe(coarse.length), k = 3,
        rerank = 32)
      .orderBy(col("rnk"))
  }

  /** INCREMENTAL IVF-SQ index maintenance driven end to end — the
    * third member of the maintenance family, and the one whose
    * maintained lifecycle replays FULLY
    * ([[Similarity.ivfIndexMerge]]): the base SQ-code index
    * holds 6/7 of the corpus (derived by restriction from the
    * memoized full index — content-identical to a from-raw build),
    * the remaining 1/7 — including
    * the query vector — arrives as a delta encoded under the SHARED
    * per-dim stats and assigned under the SHARED √n coarse quantizer
    * (both fit-once state; re-deriving stats on arrival would re-code
    * every stored row), touched lists compacted through the same
    * durable-staging → idempotent-publish machinery. The served
    * search must be indistinguishable from the rebuilt index
    * ([[fullIvfsqIndex]]) — `delta_consistent` pins set-equality —
    * and, unlike the PQ twin, the oracle recomputes the WHOLE
    * maintained state: stats → codes → assignment → ADC → re-rank,
    * no trained state anywhere.
    */
  def annIvfsqDelta(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (fullPath, coarse, codec) = fullIvfsqIndex(s, dir)
    val deltaPath =
      graft.Memo.value(dir, "ivfsq-delta") {
        val p = graft.TempDirs.create("graft_ivfsq_delta").toString
        // base = filter-copy of the memoized full SQ code index
        // (codes are fit-once affine arithmetic — a 6/7 re-encode
        // reproduces these rows bit-identically)
        Similarity.ivfIndexDerive(s, fullPath, p, col("cid") % 7 =!= 0,
          ListLayout.ByList)
        Similarity.ivfIndexMerge(s, p, coarse, codec, ListLayout.ByList,
          emb.filter(col("vec_id") % 7 === 0), "vec_id", "embedding",
          forget = false)
        p
      }
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<float>"))
      .head().getSeq[Float](0)
    val raw = emb.select(col("vec_id").as("cid"),
      col("embedding").cast("array<float>").as("cv"))
    def search(path: String) =
      Similarity.ivfAdcSearch(s, path, coarse, codec, raw,
        qid = 0L, qv = qv,
        nprobe = Similarity.derivedNprobe(coarse.length), k = 3,
        rerank = 32)
    val served = search(deltaPath)
    val rebuilt = search(fullPath)
    val consistent = sameMultiset(served, rebuilt)
    served.withColumn("delta_consistent",
        lit(if (consistent) 1 else 0))
      .orderBy(col("rnk"))
  }

  /** RIGHT-TO-BE-FORGOTTEN on the persisted IVF-SQ CODE index —
    * [[annIndexForget]]'s twin on the code-table layout, and the one
    * whose forgotten lifecycle replays FULLY (no trained state):
    * [[graft.ops.Similarity.ivfIndexMerge]] is layout-agnostic (it
    * assigns the forget VECTORS under the shared quantizer and
    * anti-joins the touched lists by cid, carrying whatever columns
    * the list rows hold — here the SQ8 codes), so the same
    * durable-staging → idempotent-publish → emptied-dir-removal loop
    * deletes code rows. The served ADC + re-rank search must equal
    * the full SQ replay over SURVIVORS under fit-once stats and
    * quantizer (stats are NOT refit per delete — re-coding every
    * stored row per deletion would be the rebuild this op exists to
    * avoid; the privacy boundary note on [[annIndexForget]] applies).
    */
  def annIvfsqForget(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (fullPath, coarse, codec) = fullIvfsqIndex(s, dir)
    val path =
      graft.Memo.value(dir, "ivfsq-forget") {
        val p = graft.TempDirs.create("graft_ivfsq_forget").toString
        // filter-copy of the memoized full code index — see
        // annIndexForget; the forget loop under test is unchanged
        Similarity.ivfIndexDerive(s, fullPath, p, lit(true),
          ListLayout.ByList)
        Similarity.ivfIndexMerge(s, p, coarse, codec, ListLayout.ByList,
          emb.filter(col("vec_id") % 13 === 5), "vec_id", "embedding",
          forget = true)
        p
      }
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<float>"))
      .head().getSeq[Float](0)
    Similarity.ivfAdcSearch(s, path, coarse, codec,
        emb.select(col("vec_id").as("cid"),
          col("embedding").cast("array<float>").as("cv")),
        qid = 0L, qv = qv,
        nprobe = Similarity.derivedNprobe(coarse.length), k = 3,
        rerank = 32)
      .orderBy(col("rnk"))
  }

  /** BATCH (query-fleet) search over the persisted IVF-SQ code index
    * ([[Similarity.ivfAdcBatchSearch]]): every 20th vector
    * served in ONE plan against the stored (cid, SQ8 code) lists —
    * `ann_ivfpq_batch`'s serving mode on the FULLY-replayable index,
    * so the oracle recomputes the whole fleet's results (stats,
    * codes, √n assignment, ADC, re-rank) with no trained state to
    * unroll.
    */
  def annIvfsqBatch(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (path, coarse, codec) = fullIvfsqIndex(s, dir)
    Similarity.ivfAdcBatchSearch(s, path, coarse, codec,
        queries = emb.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("qid"),
            col("embedding").cast("array<float>").as("qv")),
        rawVectors = emb.select(col("vec_id").as("cid"),
          col("embedding").cast("array<float>").as("cv")),
        nprobe = Similarity.derivedNprobe(coarse.length), k = 3,
        rerank = 32)
      .orderBy(col("qid"), col("rnk"))
  }

  /** SQ-ADC top-3 ([[Similarity.sqTopK]]): every 20th vector queries
    * the corpus ranked on cosine against the SQ8-reconstructed
    * vectors, top-32 shortlist re-ranked exactly. FULLY hash-checked:
    * unlike PQ, the SQ8 code path has no trained state, so the oracle
    * recomputes stats → codes → float reconstructions → ADC ranks →
    * exact re-rank value-for-value. Recall vs exact is gated by
    * `ann_sq_recall`.
    */
  def annSqTopk(s: SparkSession, dir: String): DataFrame = {
    val (mns, mxs) = sqStatsMemo(s, dir)
    Similarity.sqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryPred = col("vec_id") % 20 === 0, k = 3, rerank = 32,
        mns = mns, mxs = mxs)
      .orderBy(col("qid"), col("rnk"))
  }

  /** Driver-visible recall gate for [[annSqTopk]] — same contract as
    * [[annIvfRecall]]. SQ8 reconstructions sit within half a
    * quantization step per dimension (`embed_quantize_gate`), so the
    * ADC ordering tracks the exact one closely: measured top-3 recall
    * is 1.0 at every test SF (sf0.001/0.01/0.1); the 90 floor leaves
    * regen margin.
    */
  def annSqRecall(s: SparkSession, dir: String): DataFrame =
    recallGate(annSqTopk(s, dir), exactGroundTruth(s, dir, k = 3),
      k = 3, floorPct = 90)

  /** Embedding-cosine near-duplicate pairs over an id window —
    * exact, oracle-checked member of the embedding-dedup family
    * (LSH variant: [[annLsh]]).
    */
  def embedNeardup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.embeddingNearDupPairs(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        window = 50, threshold = 0.15)
      .orderBy(col("id_a"), col("id_b"))

  /** Semantic dedup with the ground-truth `label` column as the
    * cluster assignment — the fully SQL-checkable form of
    * [[graft.ops.Similarity.semanticDedupByCluster]] (the kmeans
    * assignment variant is `semantic_dedup`, rows-only).
    */
  def semdedupExact(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedupByCluster(
        t(s, dir, "embeddings").select(col("vec_id").as("id"),
          col("label").as("cluster"),
          col("embedding").cast("array<float>").as("v")),
        threshold = 0.3)
      .orderBy(col("id"))

  /** SemDeDup proper: spherical-k-means clusters (k=16, 2 Lloyd
    * iterations), then greedy within-cluster near-dup pruning at
    * cosine ≥ 0.3. Deterministic (seeded codebook) but the trained
    * assignment is not SQL-recomputable → rows-only, with the
    * contract gated by `semdedup_gate`.
    */
  private def semCents(s: SparkSession, dir: String): Array[Array[Float]] =
    graft.Memo.value(dir, "sem:16:2") {
      Similarity.kmeansTrain(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 16, iters = 2)._1
    }

  def semanticDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedupByCluster(
        Similarity.assignKmeansClusters(
          t(s, dir, "embeddings"), "vec_id", "embedding", k = 16, iters = 2,
          centsOpt = Some(semCents(s, dir))),
        threshold = 0.3)
      .orderBy(col("id"))

  /** Driver-visible contract gate for `semantic_dedup`: (1) every
    * corpus row is assigned a cluster, (2) kept ∪ dropped partitions
    * the corpus, (3) no within-cluster pair at cosine ≥ τ survives
    * among the kept rows (greedy maximality), (4) every dropped row
    * has a smaller-id within-cluster witness at ≥ τ, (5) the pruning
    * is non-trivial on this corpus. n_total is SQL-recomputed; the
    * flags are pinned — the `kmeans_gate` pattern.
    */
  def semdedupGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    // n_assigned rides the assignment checkpoint job as an observed
    // metric (guide §1.2: remove passes — the same conditional count,
    // measured during the pass that pins the table instead of a scan
    // after it). The metric sits at the TOP of the checkpointed plan:
    // under AQE a CollectMetrics below an exchange never delivers
    // (measured — the scan stage's accumulator is rebuilt at replan),
    // so only final-stage placements are used anywhere in the repo.
    val (assigned, mA) = Dedup.materializeObserved(
      Similarity.assignKmeansClusters(
        emb, "vec_id", "embedding", k = 16, iters = 2,
        centsOpt = Some(semCents(s, dir))),
      count(when(col("cluster").isNotNull, 1)).as("__na"))
    val nTotal = emb.count()
    val nAssigned = mA("__na").asInstanceOf[Long]
    // the quadratic within-cluster join runs ONCE: kept and both
    // contract checks all derive from this pinned pair set (it is the
    // exact pair set semanticDedupByCluster reads — shared helper)
    val pairs = Dedup.materialize(
      Similarity.withinClusterPairs(assigned, threshold = 0.3))
    val dropped = pairs.select(col("id_b").as("id")).distinct()
    val (kept, mK) = Dedup.materializeObserved(
      assigned.join(dropped, Seq("id"), "left_anti")
        .select(col("id"), col("cluster")),
      count(lit(1)).as("__n"))
    val nKept = mK("__n").asInstanceOf[Long]
    val keptIds = kept.select(col("id"))
    // the two witness checks run in ONE action via a tagged union —
    // both join pipelines execute inside a single job (guide §1.2)
    val residualRows = pairs
      .join(keptIds, pairs("id_a") === keptIds("id"), "left_semi")
      .join(keptIds, pairs("id_b") === keptIds("id"), "left_semi")
      .select(lit("r").as("t"))
    val unwitnessedRows = assigned.select(col("id"))
      .join(keptIds, Seq("id"), "left_anti") // = dropped ids
      .join(pairs.select(col("id_b").as("id")), Seq("id"), "left_anti")
      .select(lit("u").as("t"))
    val wRow = residualRows.union(unwitnessedRows)
      .agg(sum(when(col("t") === "r", 1L).otherwise(0L)).as("r"),
        sum(when(col("t") === "u", 1L).otherwise(0L)).as("u"))
      .head()
    val residual = if (wRow.isNullAt(0)) 0L else wRow.getLong(0)
    val unwitnessed = if (wRow.isNullAt(1)) 0L else wRow.getLong(1)
    Seq((nTotal,
        if (nAssigned == nTotal) 1 else 0,
        if (nKept <= nTotal) 1 else 0,
        if (residual == 0L) 1 else 0,
        if (unwitnessed == 0L) 1 else 0,
        if (nKept < nTotal) 1 else 0))
      .toDF("n_total", "all_assigned", "partition_ok", "kept_maximal",
        "dropped_witnessed", "nontrivial")
  }

  /** PQ codes for every embedding (m=8 subspaces × k=16 centroids →
    * 8 small ints per 64-dim vector, 32× compression). Deterministic
    * (seeded sub-codebooks) but not SQL-recomputable → rows-only;
    * quality/coverage gated by `pq_gate`. The code array is serialized
    * to a comma-joined string: the driver's rows-only comparator sorts
    * the frame in pandas, which cannot hash array cells (see
    * OPERATORS.md "Oracle authoring conventions").
    */
  private def pq8Codebooks(s: SparkSession, dir: String)
      : Array[Array[Array[Float]]] =
    graft.Memo.value(dir, "pq:8:16:2") {
      Similarity.kmeansTrainMulti(t(s, dir, "embeddings"),
        "vec_id", "embedding", m = 8, k = 16, iters = 2)._1
    }

  def pqEncode(s: SparkSession, dir: String): DataFrame =
    Similarity.pqEncode(t(s, dir, "embeddings"), "vec_id", "embedding",
        m = 8, k = 16, iters = 2,
        codebooksOpt = Some(pq8Codebooks(s, dir)))._1
      .select(col("id"),
        array_join(col("code").cast("array<string>"), ",").as("code"))
      .orderBy(col("id"))

  /** Driver-visible PQ quality gate: every vector encoded (m in-range
    * code cells each), and the mean reconstruction cosine over the
    * corpus ≥ 45% — measured 0.51 (sf0.001/0.01) to 0.63 (sf0.1); a
    * quantizer regression (collapsed codebook, wrong slice arithmetic)
    * lands near 0. n_vectors is SQL-recomputed; flags pinned.
    */
  def pqGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val (encoded0, codebooks) = Similarity.pqEncode(
      emb, "vec_id", "embedding", m = 8, k = 16, iters = 2,
      codebooksOpt = Some(pq8Codebooks(s, dir)))
    val n = emb.count()
    val m = codebooks.length
    val k = codebooks.head.length
    // both gate scalars ride ONE aggregate over one encode pass (guide
    // §1.2: remove passes) — the old shape checkpointed the codes and
    // then paid a separate scan per scalar. Expressions verbatim: the
    // conditional count is the old filter(...).count() in when-form,
    // the mean reads pqReconstructionSim's own sim column.
    val gRow = Similarity.pqReconstructionSim(encoded0, codebooks)
      .agg(
        count(when(size(col("code")) === m &&
          !exists(col("code"),
            c => c.isNull || c < 0 || c >= k), 1)).as("__ne"),
        avg(col("sim")).as("__ms"))
      .head()
    val nEncoded = gRow.getLong(0)
    val meanSim = gRow.getDouble(1)
    Seq((n, if (nEncoded == n) 1 else 0, 45,
        if (meanSim * 100 >= 45) 1 else 0))
      .toDF("n_vectors", "all_encoded", "recon_floor_pct", "floor_met")
  }

  /** Int8 scalar quantization (SQ8) of every embedding: per-dimension
    * affine codes from a one-pass [min,max] aggregate + one scan-stage
    * encode projection ([[graft.ops.Similarity.sqStats]]/`sqEncode`).
    * The code arithmetic is fixed-order double math with no trained
    * state, so the DuckDB oracle recomputes every code EXACTLY — the
    * fully hash-checked counterpart to the gated trained quantizer
    * (`pq_encode`/`pq_gate`). Codes are serialized comma-joined (no
    * array columns in query output — comparator constraint).
    */
  def embedQuantize(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (mns, mxs) = Similarity.sqStats(emb, "embedding")
    Similarity.sqEncode(emb, "vec_id", "embedding", mns, mxs)
      .select(col("id").as("vec_id"),
        array_join(col("code").cast("array<string>"), ",").as("codes"))
      .orderBy(col("vec_id"))
  }

  /** SQ8 reconstruction-error gate: every dequantized cell must land
    * within half a quantization step (+ 1e-9 float slack) of its
    * source value, and every code in [0, 255] — the bound affine
    * int8 quantization guarantees by construction, so any arithmetic
    * regression (swapped min/max, wrong step, index off-by-one)
    * breaks the pinned flag. n_vectors is SQL-recomputed.
    */
  def embedQuantizeGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // spread: the SQ encode→decode→half-step check is one scan-stage
    // kernel pass over every vector; the single-file scan ran it on
    // one core (measured 1.7-1.9 s single-task) — guide §2.5
    val emb = graft.ops.Dedup.spread(t(s, dir, "embeddings"))
    val (mns, mxs) = Similarity.sqStats(emb, "embedding")
    val dec = Similarity.sqDecode(
      Similarity.sqEncode(emb, "vec_id", "embedding", mns, mxs), mns, mxs)
    val steps = mns.indices.map(i => (mxs(i) - mns(i)) / 510.0 + 1e-9)
    val stepLit = typedLit(steps)
    val bad = dec.select(
        array_contains(transform(col("v"), (x, i) =>
          when(abs(x - element_at(col("v_hat"), (i + 1).cast("int"))) <=
            element_at(stepLit, (i + 1).cast("int")), lit(1)).otherwise(lit(0))),
          0).as("bad_err"),
        array_contains(transform(col("code"), q =>
          when(q >= 0 && q <= 255, lit(1)).otherwise(lit(0))), 0)
          .as("bad_range"))
      .agg(sum(when(col("bad_err"), 1L).otherwise(0L)).as("n_bad_err"),
        sum(when(col("bad_range"), 1L).otherwise(0L)).as("n_bad_range"),
        count(lit(1)).as("n"))
      .head()
    Seq((bad.getLong(2),
        if (bad.getLong(0) == 0L) 1 else 0,
        if (bad.getLong(1) == 0L) 1 else 0))
      .toDF("n_vectors", "within_half_step", "codes_in_range")
  }

  /** Fingerprint-collision pairs: documents sharing ≥5 winnowing
    * fingerprints. FULL oracle (promoted in r6): the fingerprint
    * kernel is replayed bit-for-bit in DuckDB (see `fingerprint`),
    * then closed into shared-fp pair counts with the same
    * maxDocsPerFp=50 prune — verified exact at all three SFs.
    */
  def fingerprintPairs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.fingerprintPairs(
        t(s, dir, "documents"), "doc_id", "text", minShared = 5)
      .orderBy(col("id_a"), col("id_b"))

  /** Dedup clusters: connected components over the MinHash near-dup
    * pairs — each near-duplicate group becomes one cluster keyed by
    * its minimum doc id (keep that one, drop the rest).
    *
    * FULL oracle (promoted from rows-only in r6): the pair set is
    * LSH candidates ∩ exact-Jaccard ≥ 0.7 (the kernel verifies every
    * candidate against the exact shingle sets), so it equals the
    * all-pairs exact-threshold set exactly when LSH candidate recall
    * is 1.0 — which `dedup_minhash_recall` measures as 1.0 on this
    * corpus and which was verified pair-for-pair at sf0.001/0.01/0.1
    * (the synthetic near-dups sit at Jaccard ≈ 0.9+, where the 16×8
    * S-curve — 50% point ≈ 0.67 — catches ≥ 99.99% per pair; exact
    * dups are caught with probability 1). The DuckDB twin therefore
    * recomputes word-trigram shingle sets (same ASCII-alnum-run
    * tokenization as [[graft.functions.Kernels.tokenHashes]]),
    * all-pairs Jaccard ≥ 0.7, and closes components recursively. If
    * the driver regenerates testdata with near-dups inside the LSH
    * recall window this hash can diverge — but `dedup_minhash_recall`
    * would flag exactly that (recall < 1.0) in the same run.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
        Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.7))
      .orderBy(col("id"))

  /** Connected components over the EXACT (oracle-checked) windowed
    * n-gram Jaccard pair set — DuckDB recomputes the same pairs and
    * closes them with a recursive CTE, so the cluster assignment
    * itself is value-checked. (`dedup_clusters` closes the MinHash
    * pair set the same way — see [[dedupClusters]] for why that is
    * now also fully oracle-checked.)
    */
  /** The exact windowed-Jaccard pair set (char-3-gram, window 20,
    * ≥ 0.5) over the full corpus — the ONE place those tuning
    * constants live (the oracle twin is [[ccLabelsSql]]). Memoized +
    * materialized (r13): this pair set is the STORED state of the
    * exact-harness maintenance family — `cc_exact` closes it,
    * `cc_delta` contracts its base view to stars and re-closes — and
    * at 100 TB a pair graph is maintained state read by many
    * consumers, not regenerated per query (the [[lshIncrPairs]]
    * discipline applied to the exact kernel).
    */
  private def exactWindowPairs(s: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(s, dir, "ccexact-pairs")(
      Dedup.materialize(
        Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, window = 20, threshold = 0.5)
          .select(col("id_a"), col("id_b"))))

  /** Stored cluster labels over the 6/7 BASE view (doc_id % 7 ≠ 0) of
    * the exact pair graph — the "round N" state [[ccDelta]]'s
    * maintenance pass contracts to star edges. A pair between two
    * base documents depends only on those two documents, so filtering
    * the full-corpus pair set to base-only endpoints IS the base
    * corpus's pair set (no delta doc can create or destroy a
    * base–base pair) — the filter-copy discipline of
    * [[Similarity.ivfIndexDerive]] at the pair-graph layer.
    */
  private def exactBaseLabels7(s: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(s, dir, "ccexact-base7")(
      Dedup.materialize(Dedup.connectedComponents(
        exactWindowPairs(s, dir)
          .filter(col("id_a") % 7 =!= 0 && col("id_b") % 7 =!= 0))))

  def ccExact(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(exactWindowPairs(s, dir))
      .orderBy(col("id"))

  /** LEAKAGE-SAFE train/val/test split — the split a training pipeline
    * must use when the corpus has near-duplicates: a naive
    * hash-of-doc-id split puts members of the same near-dup cluster
    * on BOTH sides of the train/eval boundary, leaking training text
    * into evaluation (the contamination mode n-gram decontamination
    * cannot see, because the duplicate IS the eval document). The fix
    * is to split by CLUSTER: every document inherits its connected
    * near-dup component's label (singletons are their own cluster)
    * and the whole cluster lands in one split, so cross-split leakage
    * is ZERO by construction.
    *
    * Emits one row per strategy — (strategy, n_train, n_val, n_test,
    * leaky_clusters) — for `cluster_safe` (split on cluster_id % 10:
    * 0–7 train, 8 val, 9 test) and `naive_docid` (same rule on
    * doc_id), so the row pair QUANTIFIES the leakage the safe split
    * removes: naive's leaky_clusters counts components straddling
    * splits; cluster_safe's is 0 (driver-checked, not just asserted).
    *
    * Scale shape (r12 rebase): the label source IS the production
    * path — [[lshMaintainedLabels]], the banded-LSH pair graph closed
    * once and then star-contraction-maintained (`cc_delta_lsh`'s
    * certified machinery) — so the query executes one small left
    * join + (cluster)-keyed integer cells with map-side combine;
    * labels are |non-singleton nodes| rows, NOT corpus-sized, and no
    * closure is recomputed in-query. The DuckDB oracle recomputes
    * the exact all-pairs ≥0.7 closure from raw text, value-checking
    * the maintained bucketing end to end.
    */
  /** Quality-aware canonical selection — `dedup_canonical` with the
    * survivor chosen by QUALITY instead of min-id: per near-dup
    * component, keep the member with the highest quality score (ties
    * by min doc_id), which is what a production dedup stage actually
    * does — the min-id rule is an arbitrary representative; the
    * quality rule keeps the best COPY of each duplicated text (a
    * cleaner extraction, a less-truncated variant). Singletons keep
    * themselves. Emits (cluster_id, keep_id, q_e4, n_members).
    *
    * Scale shape (r12 rebase): labels come from the MAINTAINED LSH
    * route ([[lshMaintainedLabels]] — banded candidates, star-
    * contraction maintenance, hash-equal a rebuild), so the query's
    * own cost is the scan-stage quality kernel + one label join +
    * ONE keyed argmax window over (cluster)-partitioned rows — no
    * closure recomputation, no global sort. The DuckDB oracle
    * replays the exact all-pairs ≥0.7 closure + the quality chain
    * from scratch, value-checking the maintained survivors.
    */
  def dedupCanonicalQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val lab = lshMaintainedLabels(s, dir)
    val full = docs.select(col("doc_id"),
        graft.ops.TextOps.qualityScoreE4(col("text")).as("q_e4"))
      .join(lab, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), col("q_e4"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("q_e4").desc, col("doc_id"))
    full
      .withColumn("rk", row_number().over(w))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"),
        col("q_e4"), col("n_members"))
      .orderBy(col("cluster_id"))
  }

  /** PROVENANCE-PRESERVING canonical dedup — the governance rule a
    * licensed-data pipeline must apply when near-dups collapse: the
    * SURVIVOR carries the UNION of its cluster's provenance (sources,
    * languages), because dropping a duplicate must not drop the fact
    * that the retained text also appeared under another source's
    * license/terms (attribution and takedown obligations attach to
    * the content, not the copy). Per cluster: the canonical keep
    * (min id — `dedup_canonical`'s rule), member count, the sorted
    * distinct source list as one comma-joined string (deterministic,
    * hashable), and distinct source/lang counts. Singletons carry
    * their own provenance.
    *
    * Scale shape: labels are the MAINTAINED LSH table (the r12 rebase
    * family — no closure in-query); the rollup is one (cluster)-keyed
    * aggregate with map-side partial collect_set over bounded
    * per-cluster member lists. The oracle recomputes the exact ≥0.7
    * closure from raw text and string_aggs the same sorted provenance.
    */
  def dedupProvenance(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val lab = lshMaintainedLabels(s, dir)
    docs.select(col("doc_id"), col("source"), col("lang"))
      .join(lab, col("doc_id") === col("id"), "left")
      .select(col("doc_id"), col("source"), col("lang"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .groupBy(col("cluster_id"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_members"),
        concat_ws(",", sort_array(collect_set(col("source"))))
          .as("provenance"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("cluster_id"))
  }

  /** SPLIT STABILITY under corpus growth — the follow-on question
    * [[splitLeakageSafe]] raises: cluster-keyed splits are
    * leakage-safe but the cluster LABEL (component min-id) is not
    * stable under merges — when a delta batch bridges two components,
    * every member of the higher-labeled one changes cluster_id, and
    * possibly split. This operator MEASURES that churn exactly: base
    * labels over the 9/10 corpus (the cc_delta_lsh base view), full
    * labels over everything, and one row of accounting — how many base
    * documents kept their bucket, how many moved, and how many moved
    * specifically across the train/eval boundary (the churn that
    * invalidates cached eval results). Production implication,
    * documented not hidden: an eval set frozen against round N's
    * splits must be re-validated after round N+1's dedup refresh —
    * the alternative (content-hash cluster keys) trades churn for
    * leakage when merges happen.
    *
    * Scale shape (r12 rebase): the churn accounting RIDES the
    * maintained-label family — base labels are the stored
    * [[lshBaseLabels]] (the round-N state), full labels are the
    * star-contraction-maintained [[lshMaintainedLabels]] (the
    * round-N+1 state, hash-equal a rebuild per `cc_delta_lsh`), so
    * the query itself executes one doc_id join + 1-row cells over
    * memoized label tables — no full closure is ever recomputed
    * in-query. The DuckDB oracle remains the DOUBLE exact closure
    * (base view + full corpus), so the maintained accounting is
    * value-checked against the from-scratch semantics end to end.
    */
  def splitStability(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val base = docs.filter(pmod(col("doc_id"), lit(10)) =!= 9)
    def buckets(src: DataFrame, labelOf: DataFrame): DataFrame =
      src.select(col("doc_id"))
        .join(labelOf, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          (coalesce(col("cluster_id"), col("doc_id")) % 10).as("sv"))
        .withColumn("bucket", when(col("sv") < 8, lit("train"))
          .when(col("sv") === 8, lit("val")).otherwise(lit("test")))
        .select(col("doc_id"), col("bucket"))
    val baseB = buckets(base, lshBaseLabels(s, dir))
      .withColumnRenamed("bucket", "bucket_base")
    val fullB = buckets(docs, lshMaintainedLabels(s, dir))
      .withColumnRenamed("bucket", "bucket_full")
    baseB.join(fullB, Seq("doc_id"))
      .agg(count(lit(1)).as("n_base"),
        sum(when(col("bucket_base") =!= col("bucket_full"), 1L)
          .otherwise(0L)).as("n_moved"),
        sum(when(col("bucket_base") === "train" &&
            col("bucket_full") =!= "train", 1L)
          .otherwise(0L)).as("n_train_to_eval"),
        sum(when(col("bucket_base") =!= "train" &&
            col("bucket_full") === "train", 1L)
          .otherwise(0L)).as("n_eval_to_train"))
      .withColumn("moved_e6", expr("n_moved * 1000000 DIV n_base"))
  }

  def splitLeakageSafe(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val lab = lshMaintainedLabels(s, dir)
    val assigned = graft.ops.Dedup.materialize(
      docs.select(col("doc_id"))
        .join(lab, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .withColumn("nv", col("doc_id") % 10)
        .withColumn("sv", col("cluster_id") % 10))
    def bucket(v: org.apache.spark.sql.Column) =
      when(v < 8, lit("train")).when(v === 8, lit("val"))
        .otherwise(lit("test"))
    def strategyRow(name: String, vName: String): DataFrame = {
      val withB = assigned.withColumn("bucket", bucket(col(vName)))
      val counts = withB.agg(
        sum(when(col("bucket") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("bucket") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("bucket") === "test", 1L).otherwise(0L)).as("n_test"))
      val leaky = withB.groupBy(col("cluster_id"))
        .agg(countDistinct(col("bucket")).as("nb"))
        .agg(sum(when(col("nb") > 1, 1L).otherwise(0L))
          .as("leaky_clusters"))
      counts.crossJoin(leaky).select(lit(name).as("strategy"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("n_val"), lit(0L)).as("n_val"),
        coalesce(col("n_test"), lit(0L)).as("n_test"),
        coalesce(col("leaky_clusters"), lit(0L)).as("leaky_clusters"))
    }
    strategyRow("cluster_safe", "sv")
      .unionByName(strategyRow("naive_docid", "nv"))
      .orderBy(col("strategy"))
  }

  /** INCREMENTAL connected-components maintenance — the cluster-label
    * member of the maintenance family: when a delta batch of
    * documents arrives, the old labels are NOT thrown away; each
    * stored component contracts to a STAR (cluster_id → member
    * edges — connectivity-preserving, and min-id labels survive
    * because the root IS the component min), the star edges union
    * the delta-touched pair set, and one CC pass over that much
    * smaller graph reproduces the full rebuild's labels exactly —
    * the oracle is `cc_exact`'s full-corpus recursive closure
    * verbatim, so maintenance is hash-indistinguishable from
    * rebuild. State cost: |non-singleton nodes| star edges +
    * delta-touched pairs, never the base pair set. (Here the
    * delta-touched pairs come from the exact windowed kernel for
    * oracle-ability; at 100 TB they come from the LSH index probe —
    * `minhash_incremental` — whose cost is ∝ |Δ| × bucket occupancy.)
    */
  def ccDelta(s: SparkSession, dir: String): DataFrame = {
    // STORED state (r13): the base labels and the pair set are the
    // memoized tables ([[exactBaseLabels7]] / [[exactWindowPairs]]) —
    // what this query EXECUTES per delta batch is the maintenance
    // stage itself (star contraction ∪ delta-touched pairs → one CC
    // pass over that much smaller graph), not a regeneration of the
    // dense-delta harness it maintains (the cc_delta_lsh discipline
    // applied to the exact kernel; SCALE.md's r12 adjudication of the
    // 0.97 exponent named exactly this regeneration as the cost).
    val oldLabels = exactBaseLabels7(s, dir)
    val deltaEdges = exactWindowPairs(s, dir)
      .filter(col("id_a") % 7 === 0 || col("id_b") % 7 === 0)
    val star = oldLabels.filter(col("id") =!= col("cluster_id"))
      .select(col("cluster_id").as("id_a"), col("id").as("id_b"))
    Dedup.connectedComponents(star.unionByName(deltaEdges))
      .orderBy(col("id"))
  }

  /** CC maintenance on the PRODUCTION delta-pair source — the
    * composition SCALE.md's cc_delta adjudication names as the
    * at-scale path: stored state (old labels over the base corpus's
    * LSH pair set) and the banded-index probe come from the memoized
    * [[minhashIncremental]] leg split, so what this query EXECUTES
    * per delta batch is exactly the MAINTENANCE stage — star edges +
    * delta-probe pairs → one CC pass, cost ∝ |star| + |touched
    * pairs|, no corpus rescan. (`cc_delta` regenerates its stored
    * state in-query with the exact windowed kernel — honest about
    * semantics, but its 10× probe times that harness, 0.97; this
    * query's warm probe times the maintained stage itself.) The
    * maintained labels equal the FULL-corpus rebuild — the oracle IS
    * `dedup_clusters`' recursive closure, the cc_delta ≡-rebuild
    * discipline on the LSH pair graph.
    */
  def ccDeltaLsh(s: SparkSession, dir: String): DataFrame =
    lshMaintainedLabels(s, dir).orderBy(col("id"))

  /** The memoized LSH-index leg split ([[Dedup.minhashPairsIncremental]]
    * — base pairs = the stored index, delta pairs = the probe) shared
    * by the whole maintained-label family.
    */
  private def lshIncrPairs(s: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(s, dir, "cclsh")(
      Dedup.minhashPairsIncremental(t(s, dir, "documents"),
        "doc_id", "text", deltaOf = c => pmod(c, lit(10)) === 9,
        shingleN = 3, bands = 16, rowsPerBand = 8, threshold = 0.7))

  /** Stored cluster labels over the BASE view (doc_id % 10 ≠ 9) of the
    * LSH pair graph — the state the maintenance pass contracts to star
    * edges, and the "round N" labels `split_stability` measures churn
    * against.
    */
  private def lshBaseLabels(s: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(s, dir, "cclsh-labels")(
      Dedup.materialize(Dedup.connectedComponents(
        lshIncrPairs(s, dir).filter(col("src") === "base")
          .select(col("id_a"), col("id_b")))))

  /** The MAINTAINED full-corpus cluster labels — star contraction of
    * the stored base labels ∪ the delta-probe pairs, one CC pass over
    * that much smaller graph (hash-equal the full rebuild; `cc_delta
    * _lsh`'s green row IS that proof). Memoized because the label
    * table is the shared input of the downstream split/canonical
    * family — at 100 TB labels are maintained state read by many
    * consumers, not recomputed per query.
    */
  private def lshMaintainedLabels(s: SparkSession, dir: String): DataFrame =
    graft.Memo.frame(s, dir, "cclsh-full") {
      val oldLabels = lshBaseLabels(s, dir)
      val star = oldLabels.filter(col("id") =!= col("cluster_id"))
        .select(col("cluster_id").as("id_a"), col("id").as("id_b"))
      val deltaEdges = lshIncrPairs(s, dir)
        .filter(col("src") === "delta")
        .select(col("id_a"), col("id_b"))
      Dedup.materialize(
        Dedup.connectedComponents(star.unionByName(deltaEdges)))
    }

  /** CC label maintenance under DELETION — the direction star
    * contraction alone cannot absorb: forgetting a document can SPLIT
    * its component (the removed node may be the only bridge — and if
    * it was the min-id ROOT, every star edge through it breaks), so
    * the maintenance rule is: keep every UNAFFECTED component's
    * labels verbatim (removing nodes elsewhere cannot change a closed
    * component), and RE-CLOSE only the affected components' survivors
    * on their internal pair set (cost ∝ affected members + their
    * pairs, never the corpus). Completes the maintained-label
    * family's lifecycle: build (`dedup_clusters`) → delta append
    * (`cc_delta_lsh`) → FORGET (this) — the index family's
    * build/delta/forget triad at the LABEL layer, and the dedup-state
    * half of the right-to-be-forgotten story (`forget_user` removes
    * rows; THIS repairs the cluster labels those rows anchored,
    * including re-electing roots when the min-id member was the one
    * forgotten). The oracle is the full exact closure over SURVIVING
    * documents — maintenance must be hash-indistinguishable from a
    * rebuild, splits included.
    */
  def ccForget(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val lab = lshMaintainedLabels(s, dir)
    val forgottenIds = docs.filter(pmod(col("doc_id"), lit(13)) === 5)
      .select(col("doc_id").as("fid"))
    // affected components: ≤ |forgotten| cluster ids
    val affected = lab
      .join(graft.ops.Hints.maybeBroadcast(forgottenIds),
        col("id") === col("fid"))
      .select(col("cluster_id")).distinct()
    val unaffected = lab
      .join(graft.ops.Hints.maybeBroadcast(affected),
        Seq("cluster_id"), "left_anti")
    // survivors of affected components + their INTERNAL pair set
    // (components are pair-closed, so no pair leaves the set)
    val affectedSurvivors = lab
      .join(graft.ops.Hints.maybeBroadcast(affected), Seq("cluster_id"))
      .join(graft.ops.Hints.maybeBroadcast(forgottenIds),
        col("id") === col("fid"), "left_anti")
      .select(col("id"))
    val pairs = lshIncrPairs(s, dir).select(col("id_a"), col("id_b"))
    val subPairs = pairs
      .join(graft.ops.Hints.maybeBroadcast(
        affectedSurvivors.select(col("id").as("id_a"))), Seq("id_a"),
        "left_semi")
      .join(graft.ops.Hints.maybeBroadcast(
        affectedSurvivors.select(col("id").as("id_b"))), Seq("id_b"),
        "left_semi")
    // re-closure of the small affected subgraph; members that lost
    // every pair become singletons and drop out — the rebuild's
    // convention (labels exist only for paired nodes)
    Dedup.connectedComponents(subPairs)
      .unionByName(unaffected.select(col("id"), col("cluster_id")))
      .orderBy(col("id"))
  }

  /** Triangle count over the exact windowed-Jaccard similarity graph
    * (same edge set as `cc_exact`): a triangle is any id_a < id_b <
    * id_c with all three edges present. Standard ordered-wedge plan —
    * one self-equi-join builds (a<b<c) wedges, a semi-join against the
    * edge set closes them; the a<b ordering on edges means every
    * triangle is counted exactly once and wedge work is bounded by
    * out-degree (the degree-orientation trick that keeps heavy nodes
    * from exploding the join at scale; see e.g. Suri & Vassilvitskii,
    * WWW'11 on MapReduce triangle counting).
    */
  def triangleCount(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.triangleCountIdOriented(Dedup.materialize(
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, window = 20, threshold = 0.5)
        .select(col("id_a"), col("id_b"))))

  /** Degree-oriented variant behind the SAME oracle — see
    * [[graft.ops.Graph.triangleCountDegreeOriented]] for why this is
    * the orientation to ship on hub-heavy graphs.
    */
  def triangleCountDegree(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.triangleCountDegreeOriented(
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, window = 20, threshold = 0.5)
        .select(col("id_a"), col("id_b")))

  /** Spherical k-means training gate: 3 Lloyd iterations over the full
    * embedding table (16 clusters, deterministic every-97th seeds) must
    * each cover every vector and keep the cosine objective Σ(1 − cos)
    * monotonically non-increasing (ε = 10⁻⁶ absorbs float-summation
    * jitter; real decreases are orders of magnitude larger). Emitted as
    * integer-only rows the oracle pins — the same driver-visible-gate
    * pattern as `ann_lsh_recall` (the trained codebook itself is not
    * SQL-recomputable).
    */
  def kmeansGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, hist) = Similarity.kmeansTrain(
      t(s, dir, "embeddings"), "vec_id", "embedding", k = 16, iters = 3)
    val rows = hist.zip(Double.NaN +: hist.map(_._2)).map {
      case ((it, sse, n), prev) =>
        val dec = if (prev.isNaN || sse <= prev + 1e-6) 1 else 0
        (it, n, dec)
    }
    rows.toDF("iter", "n_points", "decreased")
      .select(col("iter").cast("int").as("iter"), col("n_points"),
        col("decreased").cast("int").as("decreased"))
      .orderBy(col("iter"))
  }

  /** Per-dimension embedding-distribution drift monitor — the
    * EMBEDDING twin of `corpus_drift` (that one watches the token
    * distribution; retraining an encoder or switching a data source
    * shifts the VECTOR distribution, which token stats can't see).
    * Split the corpus into halves (vec_id parity — deterministic, no
    * count needed), quantize every cell to e6 fixed point
    * (floor(x·10⁶ + 0.5), the ema convention — int64 sums are then
    * order-independent and replayable), and report each dimension's
    * mean shift with denominators cleared: drift_e6 =
    * (s1·n2 − s2·n1) / (n1·n2) in DECIMAL(38,0) (s·n products
    * overflow int64 at web-scale counts — the corpus_drift rule).
    * The shift is SIGNED, so the division follows the κ_e6 lesson:
    * DIV on |num| with the sign re-applied (Spark DIV truncates
    * where DuckDB // floors — they differ exactly on negatives).
    * One corpus scan → d×2 aggregate cells; everything after is
    * |dims| arithmetic. The L1 summary Σ|drift| is the alarm a
    * monitor thresholds on.
    */
  def embedDrift(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select((col("vec_id") % 2 === 0).as("early"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("i", "x")))
      .select(col("early"), col("i"),
        floor(col("x") * lit(1e6) + lit(0.5)).cast("long").as("x_e6"))
      .groupBy(col("i"))
      .agg(sum(when(col("early"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("early"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("early"), col("x_e6")).otherwise(0L)).as("s1"),
        sum(when(!col("early"), col("x_e6")).otherwise(0L)).as("s2"))
      .withColumn("num", expr(
        "CAST(s1 AS DECIMAL(38,0)) * n2 - CAST(s2 AS DECIMAL(38,0)) * n1"))
      .withColumn("den", expr("CAST(n1 AS DECIMAL(38,0)) * n2"))
      .selectExpr("CAST(i AS INT) AS dim", "n1", "n2",
        """CAST(CASE WHEN den = 0 THEN NULL
                     WHEN num >= 0 THEN num DIV den
                     ELSE -((-num) DIV den) END AS BIGINT) AS drift_e6""")
      .orderBy(col("dim"))

  /** Vector L2 norms via the native dot-product expression. */
  def embedNorm(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        round(sqrt(dot_product(col("embedding"), col("embedding"))), 4)
          .as("l2_norm"))
      .orderBy(col("vec_id"))

  /** The seeded Achlioptas projection every embed_project* query
    * shares: 64-dim float vectors down to k=8 doubles.
    */
  private val jlMat = graft.ops.Projection.signMatrix(8, 64, seed = 17L)

  /** JL random projection 64 → 8 dims (map-only, matrix baked into
    * the plan as literals — see [[graft.ops.Projection]]). EXACT
    * oracle: the DuckDB SQL is generated from the same sign matrix,
    * so both engines run the identical fixed-order double add chain.
    */
  def embedProject(s: SparkSession, dir: String): DataFrame =
    graft.ops.Projection.project(
        t(s, dir, "embeddings"), "vec_id", "embedding", jlMat)
      .orderBy(col("vec_id"))

  /** Driver-visible JL quality gate: over all consecutive-id pairs,
    * the mean of (projected squared distance / original squared
    * distance) must sit in [0.85, 1.15] and every ratio must be
    * finite and positive. E[ratio] = 1 exactly (the √(3/k) scaling
    * makes the estimator unbiased), and with ≥ 499 pairs the mean's
    * std is ≈ √(2/k)/√n ≤ 0.03, so the band is ≈ 5σ at the smallest
    * SF. n_pairs is SQL-recomputed; flags pinned (kmeans_gate
    * pattern).
    */
  def embedProjectGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val proj = graft.ops.Projection.project(
      t(s, dir, "embeddings"), "vec_id", "embedding", jlMat)
    val projD2 = (0 until jlMat.length)
      .map(j => (col(s"a.y$j") - col(s"b.y$j")) * (col(s"a.y$j") - col(s"b.y$j")))
      .reduceLeft(_ + _)
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val origD2 = expr(
      "aggregate(zip_with(a.v, b.v, (x, y) -> (x - y) * (x - y)), 0d, (acc, e) -> acc + e)")
    val ratios = proj.as("a")
      .join(proj.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
      .select(col("a.vec_id").as("id"), projD2.as("pd2"))
      .join(emb.as("a"), col("id") === col("a.vec_id"))
      .join(emb.as("b"), col("b.vec_id") === col("id") + 1)
      .select(col("id"), col("pd2"), origD2.as("od2"))
    val agg = ratios.agg(
      count(lit(1)).as("n"),
      avg(col("pd2") / col("od2")).as("mean_ratio"),
      min(col("pd2") / col("od2")).as("min_ratio")).head()
    val n = agg.getLong(0)
    val mean = agg.getDouble(1)
    val minR = agg.getDouble(2)
    Seq((n,
        if (mean >= 0.85 && mean <= 1.15) 1 else 0,
        if (minR > 0.0 && !minR.isInfinite) 1 else 0))
      .toDF("n_pairs", "mean_ratio_in_band", "ratios_positive")
  }

  /** PCA trained once per corpus ([[graft.ops.Pca]], 3 power
    * iterations).
    */
  private def pcaTrained(s: SparkSession, dir: String)
      : (Array[Long], Seq[Array[Long]]) =
    graft.Memo.value(dir, "pca") {
      graft.ops.Pca.trainFromStats(pcaStats(s, dir), iters = 3)
    }

  /** Z-score standardization of the embedding corpus with the exact
    * integer pipeline (([[graft.ops.Pca.standardize]]): e6 means by
    * truncating division, population σ as the EXACT integer square
    * root of the e12 variance (⌊√x⌋ computed identically in both
    * engines via double-sqrt + one ±1 correction — no libm-precision
    * bet), then map-only z_e6 = trunc(c·10⁶/sd) against plan
    * literals. The feature-scaling pass an embedding pipeline runs
    * before distance-based anything; at 100 TB it is one scan-stage
    * pass, zero shuffle, with the d-cell moment aggregate paid once.
    */
  /** The ONE corpus scan the whole second-moment family shares: fused
    * raw statistics (count, sums, upper-triangle products) per dir —
    * PCA training, z-score moments, and the correlation matrix all
    * derive from it driver-side via exact integer identities, so the
    * family costs one ObjectHashAggregate pass total per corpus.
    */
  private def pcaStats(s: SparkSession, dir: String)
      : (Long, Array[BigInt], Array[Array[BigInt]]) =
    graft.Memo.value(dir, "pcastats") {
      graft.ops.Pca.rawStatsFused(graft.ops.Pca.quantized(
        t(s, dir, "embeddings"), "vec_id", "embedding"))
    }

  private def stdMoments(s: SparkSession, dir: String)
      : (Array[Long], Array[Long]) = {
    val (mu, vn) = graft.ops.Pca.momentsFromStats(pcaStats(s, dir))
    (mu, vn.map(graft.ops.Pca.isqrt))
  }

  def embedStandardize(s: SparkSession, dir: String): DataFrame = {
    val (mu, sd) = stdMoments(s, dir)
    graft.ops.Pca.standardize(t(s, dir, "embeddings"), "vec_id",
        "embedding", mu, sd)
      .orderBy(col("vec_id"), col("d"))
  }

  /** Exact Pearson correlation matrix of the embedding dimensions —
    * the feature-triage statistic (which dimensions are redundant /
    * anti-correlated) as pure integers: for i < j,
    * corr_e6 = trunc(Σcᵢcⱼ · 10⁶ / (sdᵢ·sdⱼ·n)), with sd the exact
    * integer σ ([[graft.ops.Pca.isqrt]]) and zero-variance dimensions
    * emitting 0. The distributed work is the SAME one-scan cell
    * aggregate as `pca_power` (d(d+1)/2 integer cells — PlanSpec
    * pins it); the d² division runs driver-side in BigInt (the ·10⁶
    * numerator tops int64 at sf0.1) and the oracle replays it in
    * HUGEINT. Denominator composition (floor-σ before the product)
    * is deliberate and identical on both sides — a deterministic
    * convention, like every e-scale rounding point in the trained
    * families.
    */
  def corrMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stats = pcaStats(s, dir)
    val n = stats._1
    val (mu, sd) = stdMoments(s, dir)
    val cov = graft.ops.Pca.covFromStats(stats, mu)
    val d = mu.length
    val rows = for (i <- 0 until d; j <- i + 1 until d) yield {
      val den = BigInt(sd(i)) * sd(j) * n
      val corr = if (den == 0) 0L else (cov(i)(j) * 1000000L / den).toLong
      (i, j, corr)
    }
    rows.toDF("i", "j", "corr_e6").orderBy(col("i"), col("j"))
  }

  /** The power-iteration TRAJECTORY (iter, d, v_e6) — the spectral
    * member of the trained-state family: like `quality_train`'s
    * weight trajectory and `kmeans_gate`'s codebook, the driver-side
    * math is exact integer arithmetic (BigInt C·v, max-abs truncating
    * renormalization), so all three iterations hash-compare against
    * DuckDB's HUGEINT replay of the SAME covariance → power chain.
    * The driver-visible frame is a LocalTableScan (192 rows of
    * already-trained state, the quality_stump precedent); the
    * distributed work is [[graft.ops.Pca.covCells]]'s one-scan
    * cell aggregate, plan-pinned by PlanSpec.
    */
  def pcaPower(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, traj) = pcaTrained(s, dir)
    traj.zipWithIndex
      .flatMap { case (v, it) => v.indices.map(d => (it + 1, d, v(d))) }
      .toDF("iter", "d", "v_e6")
      .orderBy(col("iter"), col("d"))
  }

  /** Every vector projected onto the trained direction — the
    * map-only serving stage: centered e6 dot product against plan
    * literals (zip_with + aggregate inside whole-stage codegen, no
    * UDF, no shuffle), then truncating e6 rescale. The at-scale use
    * is dimensionality triage: sort/bucket a 100 TB embedding corpus
    * by its dominant direction for locality before an index build.
    */
  def pcaProject(s: SparkSession, dir: String): DataFrame = {
    val (mu, traj) = pcaTrained(s, dir)
    graft.ops.Pca.project(t(s, dir, "embeddings"), "vec_id", "embedding",
        mu, traj.last)
      .orderBy(col("vec_id"))
  }

  /** PCA maintained INCREMENTALLY — the spectral member of the
    * incremental-discipline family (`quality_train_incremental`,
    * `minhash_incremental`, `agg_incremental`): the newest 10% of the
    * corpus (`vec_id % 10 = 9`) updates the d² RAW sufficient
    * statistics (row count, per-dim sums, uncentered pair products —
    * purely additive, [[graft.ops.Pca.rawStats]]) at |Δ| scan cost;
    * the base stats are the memoized "index you already have". The
    * trained direction then comes from the n-scaled covariance
    * n·P − S·Sᵀ — EXACT integer algebra with no truncation, so the
    * delta-maintained trajectory is bit-equal to a full-corpus
    * retrain by construction, which is precisely what the oracle
    * checks (it recomputes the raw stats over the FULL corpus in
    * HUGEINT and unrolls the same three power steps). At 100 TB this
    * is the difference between re-scanning the corpus per refresh and
    * paying only the day's arrivals.
    */
  def pcaIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val baseStats = graft.Memo.value(dir, "pcaraw") {
      graft.ops.Pca.rawStatsFused(graft.ops.Pca.quantized(
        t(s, dir, "embeddings").filter(pmod(col("vec_id"), lit(10)) =!= 9),
        "vec_id", "embedding"))
    }
    val deltaStats = graft.ops.Pca.rawStatsFused(graft.ops.Pca.quantized(
      t(s, dir, "embeddings").filter(pmod(col("vec_id"), lit(10)) === 9),
      "vec_id", "embedding"))
    val traj = graft.ops.Pca.powerTrajectory(
      graft.ops.Pca.scaledCov(
        graft.ops.Pca.mergeStats(baseStats, deltaStats)), iters = 3)
    traj.zipWithIndex
      .flatMap { case (v, it) => v.indices.map(d => (it + 1, d, v(d))) }
      .toDF("iter", "d", "v_e6")
      .orderBy(col("iter"), col("d"))
  }

  /** Parity-split staging of `embeddings` for the moment stream: two
    * single-file splits in mtime order, so a file source replays them
    * as two real micro-batches.
    */
  private def embStage(s: SparkSession, dir: String): String =
    graft.Memo.value(dir, "emb-stage") {
      val emb = t(s, dir, "embeddings")
      graft.streaming.IncrementalStream.stageSlices(
        (0 until 2).map(i => emb.filter(pmod(col("vec_id"), lit(2)) === i)))
        .toString
    }

  /** The TWELFTH driver-visible stream shape — INDEX STATISTICS
    * maintained from a stream: embeddings replayed as ≥2 real
    * micro-batches, each batch reduced to ONE fused stats buffer
    * ([[graft.functions.VectorStatsAgg]] — a 1-row aggregate per
    * batch, the driver accumulates ~2.1k longs, never rows) and
    * merged into the running raw moments, whose additivity is the
    * same property `pca_incremental` exploits at rest. After every
    * batch the RUNNING per-dimension mean and exact-isqrt σ are
    * emitted, so the oracle checks the whole trajectory: batch 0 =
    * the parity-0 slice's moments, batch 1 = the full corpus — the
    * cross-batch merge is hash-verified, not just the final state.
    * This is the online form of the pcaStats scan: a feature store
    * keeping its normalization statistics current as shards arrive.
    */
  def streamMoments(s: SparkSession, dir: String): DataFrame = {
    val stage = embStage(s, dir)
    val schema = s.read.parquet(stage).schema
    val stream = graft.streaming.IncrementalStream
      .readAppendStream(s, stage, schema, maxFilesPerTrigger = Some(1))
    var acc: (Long, Array[BigInt], Array[Array[BigInt]]) =
      (0L, Array.empty, Array.empty)
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Int, Long, Long)]
    graft.streaming.IncrementalStream.runForeachBatch("stream_moments", stream,
        minBatches = 2) { (batch, batchId) =>
      val st = graft.ops.Pca.rawStatsFused(
        graft.ops.Pca.quantized(batch, "vec_id", "embedding"))
      buf.synchronized {
        if (st._1 > 0) acc = graft.ops.Pca.mergeStats(acc, st)
        if (acc._1 > 0) {
          val (mu, vn) = graft.ops.Pca.momentsFromStats(acc)
          buf ++= mu.indices.map(d =>
            (batchId, d, mu(d), graft.ops.Pca.isqrt(vn(d))))
        }
      }
    }
    import s.implicits._
    buf.toSeq.sortBy(r => (r._1, r._2))
      .toDF("batch", "d", "mu_e6", "sd_e6")
      .orderBy(col("batch"), col("d"))
  }

  /** Multivariate outlier scoring over the standardized embeddings —
    * the diagonal Mahalanobis distance: score = Σ_d z_e6², an exact
    * int64 per vector (z from the same exact-isqrt standardization
    * `embed_standardize` serves), top-20 by score with id tie-break.
    * The screening pass an embedding pipeline runs before trusting a
    * batch (encoder regressions and corrupt rows land far from the
    * moment envelope). Scan-stage z + a per-vector partial-combined
    * sum (explode rows stay partition-local, so the exchange carries
    * one scored row per vector), then TakeOrderedAndProject.
    */
  def embedOutliers(s: SparkSession, dir: String): DataFrame = {
    val (mu, sd) = stdMoments(s, dir)
    graft.ops.Pca.standardize(t(s, dir, "embeddings"), "vec_id",
        "embedding", mu, sd)
      .groupBy(col("vec_id"))
      .agg(sum(col("z_e6") * col("z_e6")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(20)
  }

  /** PER-GROUP spectral training — the fused aggregate composing with
    * `groupBy`: one corpus scan yields every label's raw second-moment
    * statistics (`groupBy(label).agg(vector_stats)`), then each
    * label's top direction trains driver-side with the same BigInt
    * power iteration (2 steps) over its exact centered covariance.
    * This is how a pipeline gets per-domain / per-language principal
    * directions without one job per group — the grouped-aggregation
    * shape is the whole point, and the per-label collect stays
    * bounded (|labels| flat buffers). The oracle replays every
    * label's chain with window-partitioned max-norms.
    */
  def pcaByLabel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorStatsAgg.vector_stats
    val emb = t(s, dir, "embeddings")
    val xe = emb.select(col("label"),
      transform(col("embedding").cast("array<double>"),
        x => floor(x * lit(1e6) + lit(0.5)).cast("long")).as("xe"))
    val perLabel = xe.groupBy(col("label"))
      .agg(vector_stats(col("xe")).as("stats"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1)))
    val rows = perLabel.flatMap { case (label, flat) =>
      val stats = graft.ops.Pca.parseFlatStats(flat)
      val (mu, _) = graft.ops.Pca.momentsFromStats(stats)
      val traj = graft.ops.Pca.powerTrajectory(
        graft.ops.Pca.covFromStats(stats, mu), iters = 2)
      traj.zipWithIndex.flatMap { case (v, it) =>
        v.indices.map(d => (it + 1, label, d, v(d)))
      }
    }.toSeq.sortBy(r => (r._1, r._2, r._3))
    rows.toDF("iter", "label", "d", "v_e6")
      .orderBy(col("iter"), col("label"), col("d"))
  }

  /** The SECOND principal direction by deflated power iteration
    * ([[graft.ops.Pca.powerTrajectoryDeflated]]): the trained v₁
    * projected out with a truncating integer Gram–Schmidt step after
    * every multiply, then the usual max-norm — all from the SAME
    * memoized stats scan, zero extra corpus reads. Emits the full
    * 3-step trajectory; the oracle replays the deflation chain in
    * HUGEINT on top of the shared v₁ chain.
    */
  def pcaSecond(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pcaDeflated(s, dir).zipWithIndex
      .flatMap { case (v, it) => v.indices.map(d => (it + 1, d, v(d))) }
      .toDF("iter", "d", "u_e6")
      .orderBy(col("iter"), col("d"))
  }

  /** The deflated second-direction trajectory, memoized like
    * `pcaTrained` — `pca_second` emits it and `pca_project2` projects
    * onto its final step; both ride the same fused-stats scan.
    */
  private def pcaDeflated(s: SparkSession, dir: String)
      : Seq[Array[Long]] =
    graft.Memo.value(dir, "pcadefl") {
      val stats = pcaStats(s, dir)
      val (mu, traj) = pcaTrained(s, dir)
      graft.ops.Pca.powerTrajectoryDeflated(
        graft.ops.Pca.covFromStats(stats, mu), traj.last, iters = 3)
    }

  /** Projection onto the trained 2-D basis (v₁, deflated u₂) — the
    * visualization / clustering prep composing `pca_project` with
    * `pca_second`'s direction ([[graft.ops.Pca.project2]]): both axes
    * from the SAME memoized stats scan, the corpus read ONCE with the
    * basis as plan literals (zero new scans, zero shuffle). The
    * oracle replays both chains and both per-row dot products.
    */
  def pcaProject2(s: SparkSession, dir: String): DataFrame = {
    val (mu, traj) = pcaTrained(s, dir)
    graft.ops.Pca.project2(t(s, dir, "embeddings"), "vec_id",
        "embedding", mu, traj.last, pcaDeflated(s, dir).last)
      .orderBy(col("vec_id"))
  }

  /** Driver-visible PCA quality gate: the exact explained-variance
    * share of the trained direction, as integers — num = Σ praw²
    * (praw = centered·v before rescale), den = |v|²·Σ|c|² (the trace
    * term), explained_pct = ⌊100·num/den⌋. The gate pins
    * `above_avg_dim`: the trained direction must explain ≥ 1/d of
    * total variance (any direction achieves 1/d ON AVERAGE; the top
    * eigendirection always exceeds it, and 3 power iterations from
    * the uniform start must have gotten there). All integer — the
    * oracle recomputes num/den in HUGEINT and the flag exactly.
    *
    * Zero extra scans (r8 continuation): Σ praw² = Σ(cᵀv)² = vᵀCv and
    * Σ|c|² = trace(C) are both quadratic forms of the SAME centered
    * covariance the fused-stats memo already holds, so the whole gate
    * is driver BigInt over `pcaStats` — the first draft re-scanned
    * the corpus with per-row decimal sums; identical values (the
    * oracle's per-row form equals vᵀCv exactly), proven by the
    * unchanged hash row.
    */
  def pcaGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stats = pcaStats(s, dir)
    val n = stats._1
    val (mu, traj) = pcaTrained(s, dir)
    val v = traj.last
    val cov = graft.ops.Pca.covFromStats(stats, mu)
    val d = v.length
    val num = (for (i <- 0 until d; j <- 0 until d)
      yield BigInt(v(i)) * v(j) * cov(i)(j)).sum
    val tr = (0 until d).map(i => cov(i)(i)).sum
    val v2 = v.map(x => BigInt(x) * x).sum
    val den = v2 * tr
    val pct = if (den > 0) (num * 100 / den).toLong else 0L
    val aboveAvg = if (den > 0 && num * d >= den) 1 else 0
    Seq((n, pct, aboveAvg))
      .toDF("n_vectors", "explained_pct", "above_avg_dim")
  }

  /** End-to-end near-dup removal: the surviving corpus after dropping
    * every non-canonical member (id ≠ cluster min) of the near-dup
    * connected components — the final step a dedup pipeline actually
    * ships.
    *
    * Scale shape (r13 rebase): the drop set comes from the MAINTAINED
    * LSH label table ([[lshMaintainedLabels]] — banded candidates,
    * star-contraction maintenance, hash-equal a rebuild per
    * `cc_delta_lsh`), so the query's own cost is ONE left-anti join
    * of a compact id set against `documents` — no closure is
    * recomputed in-query. This is the `dedup_canonical_quality` move
    * applied to the shipping query itself: at 100× the from-scratch
    * closure is the scale-killer, and the maintained labels are
    * hash-proven ≡ rebuild. The DuckDB oracle recomputes the exact
    * all-pairs ≥ 0.7 closure from raw text, value-checking the
    * maintained survivors end to end. (The exact WINDOWED harness
    * remains certified separately via `cc_exact`.)
    */
  def dedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val labels = lshMaintainedLabels(s, dir)
    docs.join(labels.filter(col("id") =!= col("cluster_id")).select(col("id")),
        docs("doc_id") === col("id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Dedup IMPACT accounting — the report a dedup stage ships with
    * its output: per source, documents and TOKENS before vs after
    * dropping every non-canonical near-dup ([[dedupCanonical]]'s
    * keep rule over the same exact-Jaccard components), plus the
    * exact-integer kept-token ratio. Token mass is what the training
    * budget is priced in, so "how much corpus did dedup cost, and
    * from WHERE" is a token-level question — doc counts alone hide a
    * near-dup-heavy source of long documents. Plan: the pinned
    * (doc_id, source, ntok) projection is scanned once (tokenize
    * kernel runs once); the drop set is the compact (id ≠ cluster_id)
    * label subset driving one LEFT ANTI join; both rollups are
    * |sources| cells, reported LEFT from the before side so a
    * fully-duplicated source still shows its zero.
    *
    * Scale shape (r13 rebase): the drop set rides the MAINTAINED LSH
    * label memo ([[lshMaintainedLabels]]) exactly as
    * [[dedupCanonical]] — token accounting over maintained state, no
    * in-query closure; the oracle replays the exact all-pairs ≥ 0.7
    * closure plus the token rollups from raw text.
    */
  def dedupImpact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val dropped = lshMaintainedLabels(s, dir)
      .filter(col("id") =!= col("cluster_id")).select(col("id"))
    val toks = graft.ops.Dedup.materialize(docs
      .select(col("doc_id"), col("source"),
        size(graft.ops.Dedup.tokens(col("text"))).cast("long").as("ntok")))
    val before = toks.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
    val kept = toks.join(dropped, toks("doc_id") === dropped("id"),
        "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("ntok")).as("kept_tokens"))
    before.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
      .withColumn("kept_e6",
        when(col("n_tokens") > 0,
          expr("kept_tokens * 1000000 DIV n_tokens")).otherwise(lit(0L)))
      .orderBy(col("source"))
  }

  /** Rendezvous (HRW) shard assignment + the elastic-resharding
    * guarantee, per row ([[graft.functions.Kernels.hrwShard]]):
    * each document's shard under n=8 and n=9, the moved flag, and
    * the HRW invariant that a key moves IFF the NEW shard won its
    * argmax (`guarantee_ok` — pinned on every row, so the oracle
    * hash-checks the ~1/(n+1) movement property itself, not just the
    * assignment). Pure scan-stage arithmetic: zero shuffle, zero
    * state, deterministic across executors — this is how a 100 TB
    * corpus is routed to output shards / workers such that growing
    * the fleet n → n+1 re-routes only the keys the new member wins,
    * where mod-n hashing would reshuffle (n-1)/n of the data.
    */
  def shardAssign(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.dsl.hrw_shard
    t(s, dir, "documents").select(
        col("doc_id"),
        hrw_shard(col("doc_id"), 8).as("shard8"),
        hrw_shard(col("doc_id"), 9).as("shard9"))
      .withColumn("moved", (col("shard8") =!= col("shard9")).cast("int"))
      .withColumn("guarantee_ok",
        ((col("shard8") === col("shard9")) || (col("shard9") === lit(8)))
          .cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic epoch shuffle — training-data ordering without RNG
    * state ([[graft.functions.dsl.shuffle_key]]): sorting by
    * mix64(doc_id ⊕ mix64(seed + epoch)) IS an independent
    * pseudorandom permutation per epoch, recomputable on any executor
    * with zero coordination (the standard replacement for stateful
    * shufflers in multi-epoch LLM data loading). At 100 TB the full
    * permutation is a range-partitioned sort on the key — Spark's
    * sampled range exchange, no single-reducer stage; the
    * driver-checked surface here takes the head of each epoch's order
    * (TakeOrderedAndProject per epoch — never a global sort at this
    * output size) and hash-pins the whole key chain, the signed
    * reinterpretation, and the per-epoch ranking against a DuckDB
    * replay. Different epochs provably reorder: the two top-20 sets
    * share keys only by coincidence of the hash (none at this SF).
    */
  def epochShuffle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.dsl.shuffle_key
    val docs = t(s, dir, "documents").select(col("doc_id"))
    (1 to 2).map { e =>
      docs.select(lit(e).as("epoch"), col("doc_id"),
          shuffle_key(col("doc_id"), 42L + e).as("skey"))
        .orderBy(col("skey"), col("doc_id")).limit(20)
    }.reduce(_.unionAll(_))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("epoch")).orderBy(col("skey"), col("doc_id"))))
      .select(col("epoch"), col("rank"), col("doc_id"), col("skey"))
      .orderBy(col("epoch"), col("rank"))
  }

  // ------------------------------------------------------------------------
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "shard_assign" -> (shardAssign _),
    "epoch_shuffle" -> (epochShuffle _),
    "dedup_canonical" -> (dedupCanonical _),
    "dedup_impact" -> (dedupImpact _),
    "dedup_exact" -> (dedupExact _),
    "dedup_minhash" -> (dedupMinhash _),
    "dedup_salted" -> (dedupSalted _),
    "minhash_incremental" -> (minhashIncremental _),
    "dedup_minhash_recall" -> (dedupMinhashRecall _),
    "dedup_simhash_recall" -> (dedupSimhashRecall _),
    "decontaminate" -> (decontaminate _),
    "repeated_spans" -> (repeatedSpans _),
    "dedup_simhash" -> (dedupSimhash _),
    "ngram_jaccard" -> (ngramJaccard _),
    "ppjoin_pairs" -> (ppjoinPairs _),
    "ppjoin_lsh" -> (ppjoinLsh _),
    "ann_topk" -> (annTopk _),
    "ann_index_manifest" -> (annIndexManifest _),
    "ann_index_forget" -> (annIndexForget _),
    "ann_autotune" -> (annAutotune _),
    "maxsim_rank" -> (maxsimRank _),
    "maxsim_ivf" -> (maxsimIvf _),
    "ann_ivf_clustered" -> (annIvfClustered _),
    "maxsim_ivf_clustered" -> (maxsimIvfClustered _),
    "ann_filtered_clustered" -> (annFilteredClustered _),
    "ann_filtered_delta" -> (annFilteredDelta _),
    "maxsim_budget_curve" -> (maxsimBudgetCurve _),
    "ann_filtered" -> (annFiltered _),
    "ann_filtered_forget" -> (annFilteredForget _),
    "ann_filtered_recall" -> (annFilteredRecall _),
    "ann_filtered_indexed" -> (annFilteredIndexed _),
    "ann_filtered_batch" -> (annFilteredBatch _),
    "dedup_threshold_curve" -> (dedupThresholdCurve _),
    "embed_matryoshka" -> (embedMatryoshka _),
    "ann_ivf_mrl" -> (annIvfMrl _),
    "ann_mrl_funnel" -> (annMrlFunnel _),
    "silhouette_gate" -> (silhouetteGate _),
    "split_leakage_safe" -> (splitLeakageSafe _),
    "dedup_canonical_quality" -> (dedupCanonicalQuality _),
    "dedup_provenance" -> (dedupProvenance _),
    "split_stability" -> (splitStability _),
    "mmr_rerank" -> (mmrRerank _),
    "mine_pairs" -> (minePairs _),
    "ann_lsh" -> (annLsh _),
    "ann_lsh_recall" -> (annLshRecall _),
    "ann_ivf" -> (annIvf _),
    "ann_rank_eval" -> (annRankEval _),
    "ann_ivf_indexed" -> (annIvfIndexed _),
    "ann_ivf_delta" -> (annIvfDelta _),
    "ann_ivf_recall" -> (annIvfRecall _),
    "ann_recall_curve" -> (annRecallCurve _),
    "ann_ivf_trained" -> (annIvfTrained _),
    "ann_ivf_trained_recall" -> (annIvfTrainedRecall _),
    "ann_ivfpq" -> (annIvfpq _),
    "ann_ivfpq_recall" -> (annIvfpqRecall _),
    "ann_ivfpq_indexed" -> (annIvfpqIndexed _),
    "ann_ivfpq_delta" -> (annIvfpqDelta _),
    "ann_ivfpq_batch" -> (annIvfpqBatch _),
    "ann_sq_topk" -> (annSqTopk _),
    "ann_ivfsq_indexed" -> (annIvfsqIndexed _),
    "ann_ivfsq_forget" -> (annIvfsqForget _),
    "ann_ivfpq_forget" -> (annIvfpqForget _),
    "ann_ivfsq_delta" -> (annIvfsqDelta _),
    "ann_ivfsq_batch" -> (annIvfsqBatch _),
    "ann_sq_recall" -> (annSqRecall _),
    "embed_neardup" -> (embedNeardup _),
    "dedup_clusters" -> (dedupClusters _),
    "cc_exact" -> (ccExact _),
    "cc_delta" -> (ccDelta _),
    "cc_delta_lsh" -> (ccDeltaLsh _),
    "cc_forget" -> (ccForget _),
    "triangle_count" -> (triangleCount _),
    "triangle_count_degree" -> (triangleCountDegree _),
    "fingerprint_pairs" -> (fingerprintPairs _),
    "embed_norm" -> (embedNorm _),
    "embed_drift" -> (embedDrift _),
    "embed_project" -> (embedProject _),
    "embed_project_gate" -> (embedProjectGate _),
    "kmeans_gate" -> (kmeansGate _),
    "semdedup_exact" -> (semdedupExact _),
    "semantic_dedup" -> (semanticDedup _),
    "semdedup_gate" -> (semdedupGate _),
    "pq_encode" -> (pqEncode _),
    "pq_gate" -> (pqGate _),
    "embed_quantize" -> (embedQuantize _),
    "embed_quantize_gate" -> (embedQuantizeGate _),
    "pca_power" -> (pcaPower _),
    "pca_project" -> (pcaProject _),
    "pca_gate" -> (pcaGate _),
    "embed_standardize" -> (embedStandardize _),
    "corr_matrix" -> (corrMatrix _),
    "pca_incremental" -> (pcaIncremental _),
    "pca_by_label" -> (pcaByLabel _),
    "stream_moments" -> (streamMoments _),
    "embed_outliers" -> (embedOutliers _),
    "pca_second" -> (pcaSecond _),
    "pca_project2" -> (pcaProject2 _))

  /** Shared DuckDB CTE chain closing the exact windowed-Jaccard pair
    * set into min-label components — the oracle twin of
    * [[exactWindowPairs]]; `cc_exact` and `cc_delta` both prepend
    * `WITH RECURSIVE` to this and differ only in the final SELECT
    * (`dedup_canonical`/`dedup_impact` moved to the maintained-LSH
    * labels in r13 and now use [[lshLabelsChainSql]]).
    */
  private val ccLabelsSql: String =
    """g AS (
           SELECT doc_id AS id,
                  list_distinct([substring(text, i, 3)
                                 for i in range(1, greatest(length(text) - 2, 1) + 1)]) AS gs
           FROM documents),
         p AS (
           SELECT a.id AS id_a, b.id AS id_b
           FROM g a JOIN g b ON b.id > a.id AND b.id <= a.id + 20
           WHERE len(list_intersect(a.gs, b.gs))::DOUBLE
                 / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.5),
         e AS (SELECT id_a AS src, id_b AS dst FROM p
               UNION SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT src, src FROM e
           UNION
           SELECT w.id, e2.dst FROM reach w JOIN e e2 ON w.r = e2.src),
         lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)"""

  /** ±1 SRP hyperplane for (table `tb`, bit `b`) as a DuckDB DOUBLE[]
    * literal — generated from the SAME `Kernels.mix64` stream
    * `srp_bucket`/`srp_probes` consume (seed 42+tb, offset b·131071+i),
    * so kernel and oracle cannot drift (the shard_assign convention).
    * Hardcodes the corpus embedding dim (64): a dim change diverges
    * LOUDLY (DuckDB rejects mismatched list_dot_product lengths).
    */
  private def srpPlaneSql(tb: Int, b: Int, d: Int = 64): String =
    (0 until d).map { i =>
      if ((graft.functions.Kernels.mix64(42L + tb + b * 131071L + i) & 1L) == 0L)
        "1.0" else "-1.0"
    }.mkString("CAST([", ",", "] AS DOUBLE[])")

  /** Full [[annLsh]] replay in DuckDB: per-(vector, table) SRP buckets
    * from the generated hyperplane literals, the QUERY-DIRECTED
    * multi-probe enumeration (all 2^bits masks scored by flip cost,
    * top-7 per table), the candidate equi-join, and the exact cosine
    * re-rank. Float arithmetic is bit-replayable: ±1·float products
    * are exact doubles, both sides accumulate sequentially, and the
    * mask score reproduces the kernel's lowest-set-bit recursion —
    * cost(high bit) first, cost(low bit) last, with interposed +0.0
    * terms exact because every |projection| ≥ +0.0.
    */
  private def annLshOracleSql: String = {
    val nTables = 8
    val bits = 6
    val corpus = (0 until nTables).map { tb =>
      val bucketExpr = (0 until bits).map { b =>
        s"CASE WHEN list_dot_product(v, ${srpPlaneSql(tb, b)}) >= 0 THEN ${1 << b} ELSE 0 END"
      }.mkString(" + ")
      s"SELECT vec_id AS cid, $tb AS tbl, CAST($bucketExpr AS BIGINT) AS bucket FROM e"
    }.mkString(" UNION ALL ")
    val qproj = (0 until nTables).map { tb =>
      val ps = (0 until bits).map { b =>
        s"list_dot_product(v, ${srpPlaneSql(tb, b)}) AS p$b"
      }.mkString(", ")
      s"SELECT vec_id AS qid, $tb AS tbl, $ps FROM e WHERE vec_id % 20 = 0"
    }.mkString(" UNION ALL ")
    val baseExpr = (0 until bits)
      .map(b => s"CASE WHEN p$b >= 0 THEN ${1 << b} ELSE 0 END").mkString(" + ")
    val costCols = (0 until bits).map(b => s"abs(p$b) AS c$b").mkString(", ")
    // descending-bit left-assoc sum = the kernel's score recursion
    val scoreExpr = (bits - 1 to 0 by -1)
      .map(b => s"CASE WHEN (mask & ${1 << b}) > 0 THEN c$b ELSE 0.0 END")
      .mkString(" + ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
       cb AS ($corpus),
       qp AS ($qproj),
       qb AS (SELECT qid, tbl, $costCols, CAST($baseExpr AS BIGINT) AS base
              FROM qp),
       mk AS (SELECT mask FROM range(0, ${1 << bits}) t(mask)),
       sc AS (SELECT qid, tbl, base, mask, $scoreExpr AS score
              FROM qb CROSS JOIN mk),
       pr AS (SELECT qid, tbl, xor(base, mask) AS bucket
              FROM (SELECT *, row_number() OVER (PARTITION BY qid, tbl
                              ORDER BY score, mask) AS rn FROM sc) z
              WHERE rn <= ${bits + 1}),
       cand AS (SELECT DISTINCT pr.qid, cb.cid
                FROM pr JOIN cb ON pr.tbl = cb.tbl AND pr.bucket = cb.bucket
                WHERE pr.qid <> cb.cid),
       s AS (SELECT cand.qid, cand.cid,
               round(list_dot_product(q.v, c.v)
                     / sqrt(list_dot_product(q.v, q.v)
                            * list_dot_product(c.v, c.v)), 4) AS sim_r
             FROM cand JOIN e q ON cand.qid = q.vec_id
                       JOIN e c ON cand.cid = c.vec_id),
       r AS (SELECT qid, cid, sim_r,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY sim_r DESC, cid) AS INTEGER) AS rnk
             FROM s)
       SELECT qid, cid, sim_r, rnk FROM r WHERE rnk <= 3
       ORDER BY qid, rnk"""
  }

  /** Full [[annIvf]] replay in DuckDB: the every-149th sampled
    * codebook is recomputed FROM the table (the sampling rule is
    * SQL-expressible — no literals needed), corpus list assignment is
    * the (sim DESC, centroid_id) argmax the `nearest_centroids` kernel
    * computes, queries probe their top-7 lists, and candidates re-rank
    * on exact cosine. The NaN guard mirrors the kernel's isNaN skip
    * (DuckDB would otherwise sort NaN FIRST under DESC).
    */
  /** Full curve replay: the stride-149 assignment and probe chains
    * (annIvf's shape) with the probe RANK retained, first-probe
    * retention via min over duplicate probed lists, per-curve-point
    * ranking of the nested candidate subsets, the exact top-3 chain
    * (ann_topk's shape at k=3), and the integer recall arithmetic.
    */
  private def annRecallCurveOracleSql: String =
    annRecallCurveChainSql + """
       SELECT pts.nprobe, CAST(tot.n_exact AS BIGINT) AS n_exact,
              CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
              CAST((coalesce(h.hits, 0) * 1000000) // tot.n_exact
                   AS BIGINT) AS recall_e6
       FROM pts CROSS JOIN tot LEFT JOIN h ON pts.nprobe = h.nprobe
       ORDER BY pts.nprobe"""

  /** The curve chain + the pick rule (smallest budget reaching 80%
    * recall, fallback max) + the served ranking at the chosen budget
    * — [[annAutotune]]'s full replay.
    */
  private def annAutotuneOracleSql: String =
    annRecallCurveChainSql + """,
       pick AS (SELECT CAST(coalesce(min(CASE
                    WHEN (coalesce(h.hits, 0) * 1000000) // tot.n_exact
                         >= 800000 THEN pts.nprobe END), 8) AS INTEGER)
                  AS np
                FROM pts CROSS JOIN tot
                LEFT JOIN h ON pts.nprobe = h.nprobe)
       SELECT s2.qid, s2.cid, s2.sim_r,
              CAST(row_number() OVER (PARTITION BY s2.qid
                   ORDER BY s2.sim_r DESC, s2.cid) AS INTEGER) AS rnk,
              pick.np AS nprobe_used
       FROM s2 CROSS JOIN pick
       WHERE s2.first_probe <= pick.np
       QUALIFY rnk <= 3
       ORDER BY qid, rnk"""

  /** Shared CTE chain of the curve replay (through `h`): assignment,
    * first-probe retention, per-point nested ranking, exact top-3,
    * per-point hit counts.
    */
  private def annRecallCurveChainSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
       cb AS (SELECT vec_id AS centroid_id, v AS cv FROM e
              WHERE vec_id % 149 = 0
              ORDER BY centroid_id LIMIT 16384),
       sim AS (SELECT e.vec_id, cb.centroid_id,
                 list_dot_product(e.v, cb.cv)
                 / sqrt(list_dot_product(e.v, e.v)
                        * list_dot_product(cb.cv, cb.cv)) AS s
               FROM e CROSS JOIN cb),
       rk AS (SELECT vec_id, centroid_id, s,
                row_number() OVER (PARTITION BY vec_id
                     ORDER BY s DESC, centroid_id) AS rn
              FROM sim WHERE NOT isnan(s)),
       asg AS (SELECT vec_id AS cid, centroid_id FROM rk WHERE rn = 1),
       pb AS (SELECT vec_id AS qid, centroid_id, rn FROM rk
              WHERE rn <= 8 AND vec_id % 20 = 0),
       cand AS (SELECT pb.qid, asg.cid,
                  CAST(min(pb.rn) AS INTEGER) AS first_probe
                FROM pb JOIN asg USING (centroid_id)
                WHERE pb.qid <> asg.cid GROUP BY 1, 2),
       s2 AS (SELECT cand.qid, cand.cid, cand.first_probe,
                round(list_dot_product(q.v, c.v)
                      / sqrt(list_dot_product(q.v, q.v)
                             * list_dot_product(c.v, c.v)), 4) AS sim_r
              FROM cand JOIN e q ON cand.qid = q.vec_id
                        JOIN e c ON cand.cid = c.vec_id),
       pts AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
       rkd AS (SELECT pts.nprobe, s2.qid, s2.cid,
                 row_number() OVER (PARTITION BY pts.nprobe, s2.qid
                      ORDER BY s2.sim_r DESC, s2.cid) AS rnk
               FROM s2 JOIN pts ON s2.first_probe <= pts.nprobe),
       ex AS (SELECT qid, cid FROM (
                SELECT q.vec_id AS qid, c.vec_id AS cid,
                  row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY round(list_dot_product(q.v, c.v)
                                / sqrt(list_dot_product(q.v, q.v)
                                       * list_dot_product(c.v, c.v)), 4)
                         DESC, c.vec_id) AS rnk
                FROM (SELECT vec_id, v FROM e WHERE vec_id % 20 = 0) q
                JOIN e c ON q.vec_id <> c.vec_id)
              WHERE rnk <= 3),
       tot AS (SELECT count(*) AS n_exact FROM ex),
       h AS (SELECT rkd.nprobe, count(*) AS hits
             FROM rkd JOIN ex ON rkd.qid = ex.qid AND rkd.cid = ex.cid
             WHERE rkd.rnk <= 3 GROUP BY 1)"""

  /** The ≥0.7 word-3-shingle all-pairs set closed recursively into
    * min-id labels — shared by `dedup_clusters` (direct build) and
    * `cc_delta_lsh` (incremental maintenance), which must land on the
    * SAME labels (maintenance ≡ rebuild).
    */
  private val lshClusterLabelsOracleSql: String =
    "WITH RECURSIVE " + lshLabelsChainSql("", "TRUE") +
      "\n         SELECT id, cluster_id FROM lab ORDER BY id"

  /** The ≥0.7 closure as a SUFFIXED, doc-filterable CTE chain (ending
    * in `lab<sfx>`) — lets an oracle close TWO views of the corpus in
    * one statement (`split_stability`'s base + full double closure).
    */
  private def lshLabelsChainSql(sfx: String, where: String): String =
    s"""tk$sfx AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              x -> len(x) > 0) AS t
           FROM documents WHERE $where),
         g$sfx AS (
           SELECT doc_id AS id,
                  CASE WHEN len(t) >= 3
                       THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                           for i in range(1, len(t) - 1)])
                       ELSE [array_to_string(t, ' ')] END AS gs
           FROM tk$sfx),
         p$sfx AS (
           SELECT a.id AS id_a, b.id AS id_b
           FROM g$sfx a JOIN g$sfx b ON b.id > a.id
           WHERE len(list_intersect(a.gs, b.gs))::DOUBLE
                 / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.7),
         e$sfx AS (SELECT id_a AS src, id_b AS dst FROM p$sfx
               UNION SELECT id_b, id_a FROM p$sfx),
         reach$sfx(id, r) AS (
           SELECT src, src FROM e$sfx
           UNION
           SELECT w.id, e2.dst
           FROM reach$sfx w JOIN e$sfx e2 ON w.r = e2.src),
         lab$sfx AS (SELECT id, min(r) AS cluster_id
                     FROM reach$sfx GROUP BY id)"""

  /** Full [[annFiltered]] replay — the label-carrying IVF chain
    * (√n stride, the occupancy-aware 3/4-coverage probes, the label
    * conjoined into the candidate join) restricted to queries
    * matching `qidWhere` and (for the forget oracle) to a corpus of
    * SURVIVORS matching `corpusWhere` — queries keep their vectors
    * regardless (they come from the embeddings table, not the
    * index). Shared by `ann_filtered` (all queries),
    * `ann_filtered_indexed` (the one storage-served query),
    * `ann_filtered_batch` (the fleet), and `ann_filtered_forget`
    * (the fleet over the forgotten corpus): every layout and
    * maintenance state must serve the in-plan chain's results.
    */
  private def annFilteredOracleFor(qidWhere: String,
                                   corpusWhere: String = "TRUE",
                                   extraCols: String = ""): String =
    s"""WITH e AS (SELECT vec_id, label,
                  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       cb AS (SELECT vec_id AS centroid_id, v AS cv FROM e
              WHERE vec_id % $sqrtStrideSql = 0
              ORDER BY centroid_id LIMIT 16384),
       np AS (SELECT GREATEST(7, (count(*) * 3 + 3) // 4) AS v FROM cb),
       sim AS (SELECT e.vec_id, e.label, cb.centroid_id,
                 list_dot_product(e.v, cb.cv)
                 / sqrt(list_dot_product(e.v, e.v)
                        * list_dot_product(cb.cv, cb.cv)) AS s
               FROM e CROSS JOIN cb),
       rk AS (SELECT vec_id, label, centroid_id, s,
                row_number() OVER (PARTITION BY vec_id
                     ORDER BY s DESC, centroid_id) AS rn
              FROM sim WHERE NOT isnan(s)),
       asg AS (SELECT vec_id AS cid, label AS clabel, centroid_id
               FROM rk WHERE rn = 1 AND ($corpusWhere)),
       pb AS (SELECT vec_id AS qid, label AS qlabel, centroid_id
              FROM rk
              WHERE rn <= (SELECT v FROM np) AND vec_id % 20 = 0
                AND ($qidWhere)),
       cand AS (SELECT pb.qid, asg.cid
                FROM pb JOIN asg USING (centroid_id)
                WHERE pb.qid <> asg.cid AND asg.clabel = pb.qlabel),
       s2 AS (SELECT cand.qid, cand.cid,
                round(list_dot_product(q.v, c.v)
                      / sqrt(list_dot_product(q.v, q.v)
                             * list_dot_product(c.v, c.v)), 4)
                  AS sim_r
              FROM cand JOIN e q ON cand.qid = q.vec_id
                        JOIN e c ON cand.cid = c.vec_id),
       r AS (SELECT qid, cid, sim_r,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY sim_r DESC, cid) AS INTEGER) AS rnk
             FROM s2)
       SELECT qid, cid, sim_r, rnk$extraCols FROM r WHERE rnk <= 3
       ORDER BY qid, rnk"""

  private def annIvfOracleSql: String = annIvfOracleSqlFor("TRUE")

  /** [[annIvfOracleSql]] restricted to queries matching `qidWhere` —
    * shared by `ann_ivf` (all queries) and `ann_ivf_indexed` (the one
    * persisted-index-served query).
    */
  private def annIvfOracleSqlFor(qidWhere: String): String =
    annIvfChainFor(qidWhere) + """
       SELECT qid, cid, sim_r, rnk FROM r WHERE rnk <= 3
       ORDER BY qid, rnk"""

  /** The IVF replay WITHOUT its final projection — shared by the
    * ann_ivf oracles and the retrieval-evaluation join
    * (`ann_rank_eval`), which composes it with the exact-top-1 chain.
    * Stride/nprobe default to the in-plan family's fixed 149/7; the
    * persisted-index oracles pass [[sqrtStrideSql]] /
    * [[derivedNprobeSql]] instead (the engine's count-derived rules
    * recomputed in SQL).
    */
  private def annIvfChainFor(qidWhere: String,
                             strideSql: String = "149",
                             nprobeSql: String = "7"): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
       cb AS (SELECT vec_id AS centroid_id, v AS cv FROM e
              WHERE vec_id % $strideSql = 0
              ORDER BY centroid_id LIMIT 16384),
       sim AS (SELECT e.vec_id, cb.centroid_id,
                 list_dot_product(e.v, cb.cv)
                 / sqrt(list_dot_product(e.v, e.v)
                        * list_dot_product(cb.cv, cb.cv)) AS s
               FROM e CROSS JOIN cb),
       rk AS (SELECT vec_id, centroid_id, s,
                row_number() OVER (PARTITION BY vec_id
                     ORDER BY s DESC, centroid_id) AS rn
              FROM sim WHERE NOT isnan(s)),
       asg AS (SELECT vec_id AS cid, centroid_id FROM rk WHERE rn = 1),
       pb AS (SELECT vec_id AS qid, centroid_id FROM rk
              WHERE rn <= $nprobeSql AND vec_id % 20 = 0 AND ($qidWhere)),
       cand AS (SELECT pb.qid, asg.cid
                FROM pb JOIN asg USING (centroid_id)
                WHERE pb.qid <> asg.cid),
       s2 AS (SELECT cand.qid, cand.cid,
                round(list_dot_product(q.v, c.v)
                      / sqrt(list_dot_product(q.v, q.v)
                             * list_dot_product(c.v, c.v)), 4) AS sim_r
              FROM cand JOIN e q ON cand.qid = q.vec_id
                        JOIN e c ON cand.cid = c.vec_id),
       r AS (SELECT qid, cid, sim_r,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY sim_r DESC, cid) AS INTEGER) AS rnk
             FROM s2)"""


  /** Full [[maxsimBudgetCurve]] replay: per-facet √n-stride codebook
    * assignment + probe chains WITH probe rank retained, cross-facet
    * first-probe retention (min over the facet unions), the 16-cosine
    * MaxSim on the pinned candidate table, the exact all-pairs MaxSim
    * top-3, and per-budget nested ranking + exact-integer recall —
    * every constant derived from counts, so both engines compute the
    * identical curve.
    */
  private def maxsimBudgetCurveOracleSql: String = {
    def cos(i: Int, j: Int): String = {
      val (a, b) = (i * 16 + 1, (i + 1) * 16)
      val (c, d) = (j * 16 + 1, (j + 1) * 16)
      s"(list_dot_product(qv[$a:$b], cv[$c:$d]) " +
        s"/ sqrt(list_dot_product(qv[$a:$b], qv[$a:$b]) " +
        s"* list_dot_product(cv[$c:$d], cv[$c:$d])))"
    }
    val score = (0 until 4).map { i =>
      s"greatest(${(0 until 4).map(j => cos(i, j)).mkString(", ")})"
    }.mkString(" + ")
    def facet(j: Int): String = {
      val (a, b) = (j * 16 + 1, (j + 1) * 16)
      s"""sim_$j AS (SELECT e.vec_id, cb.centroid_id,
             list_dot_product(e.v[$a:$b], cb.cv[$a:$b])
             / sqrt(list_dot_product(e.v[$a:$b], e.v[$a:$b])
                    * list_dot_product(cb.cv[$a:$b], cb.cv[$a:$b])) AS s
           FROM e CROSS JOIN cb),
         rk_$j AS (SELECT vec_id, centroid_id, s,
             row_number() OVER (PARTITION BY vec_id
                  ORDER BY s DESC, centroid_id) AS rn
           FROM sim_$j WHERE NOT isnan(s)),
         asg_$j AS (SELECT vec_id AS cid, centroid_id
                    FROM rk_$j WHERE rn = 1),
         pb_$j AS (SELECT vec_id AS qid, centroid_id, rn FROM rk_$j
                   WHERE rn <= (SELECT max(np) FROM budgets)
                     AND vec_id % 20 = 0),
         cd_$j AS (SELECT pb.qid, asg.cid, pb.rn
                   FROM pb_$j pb JOIN asg_$j asg USING (centroid_id)
                   WHERE pb.qid <> asg.cid)"""
    }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
       cb AS (SELECT vec_id AS centroid_id, v AS cv FROM e
              WHERE vec_id % $sqrtStrideSql = 0
              ORDER BY centroid_id LIMIT 16384),
       cnt AS (SELECT count(*) AS c FROM cb),
       budgets AS (SELECT DISTINCT unnest([
           GREATEST(7, (SELECT c FROM cnt) // 8),
           GREATEST(7, (SELECT c FROM cnt) // 4),
           GREATEST(7, ((SELECT c FROM cnt) + 1) // 2)]) AS np),
       ${(0 until 4).map(facet).mkString(",\n       ")},
       cand AS (SELECT qid, cid, CAST(min(rn) AS INTEGER) AS first_probe
                FROM (SELECT * FROM cd_0 UNION ALL SELECT * FROM cd_1
                      UNION ALL SELECT * FROM cd_2
                      UNION ALL SELECT * FROM cd_3) u
                GROUP BY 1, 2),
       ms AS (SELECT cand.qid, cand.cid, cand.first_probe,
                round($score, 4) AS maxsim_r
              FROM cand JOIN (SELECT vec_id, v AS qv FROM e) q
                          ON cand.qid = q.vec_id
                        JOIN (SELECT vec_id, v AS cv FROM e) c
                          ON cand.cid = c.vec_id),
       ex AS (SELECT qid, cid FROM (
                SELECT q.vec_id AS qid, c.vec_id AS cid,
                  row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY round(${score.replace("qv", "q.v").replace("cv", "c.v")}, 4)
                         DESC, c.vec_id) AS rnk
                FROM (SELECT vec_id, v FROM e WHERE vec_id % 20 = 0) q
                JOIN e c ON q.vec_id <> c.vec_id) z
              WHERE rnk <= 3),
       tot AS (SELECT count(*) AS n_exact FROM ex),
       rkd AS (SELECT b.np, ms.qid, ms.cid,
                 row_number() OVER (PARTITION BY b.np, ms.qid
                      ORDER BY ms.maxsim_r DESC, ms.cid) AS rnk
               FROM ms JOIN budgets b ON ms.first_probe <= b.np),
       h AS (SELECT np, count(*) AS hits
             FROM rkd JOIN ex ON rkd.qid = ex.qid AND rkd.cid = ex.cid
             WHERE rkd.rnk <= 3 GROUP BY 1)
       SELECT CAST(b.np AS INTEGER) AS nprobe,
              CAST(tot.n_exact AS BIGINT) AS n_exact,
              CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
              CAST((coalesce(h.hits, 0) * 1000000) // tot.n_exact
                   AS BIGINT) AS recall_e6
       FROM budgets b CROSS JOIN tot LEFT JOIN h ON b.np = h.np
       ORDER BY nprobe"""
  }

  /** [[clusteredEmb]]'s generator replayed as a DuckDB CTE: the same
    * int64 center/noise arithmetic (operands positive before each
    * subtraction, so `%` agrees between engines), the same /1000.0
    * double division, the same float rounding — CAST per element to
    * FLOAT then the list to DOUBLE[], exactly how every other oracle
    * reads the float parquet column.
    */
  private val clusteredEmbSql: String =
    """ce AS (SELECT vec_id,
         CAST([CAST((((vec_id % 32) * 524287 + d * 8191 + 1)
                     * 73856093 % 2039 - 1019
               + ((vec_id * 64 + d) * 19349663 % 241 - 120)) / 1000.0
               AS FLOAT) for d in range(0, 64)] AS DOUBLE[]) AS v
       FROM embeddings)"""

  /** Full [[annIvfClustered]] replay — generation ([[clusteredEmbSql]]),
    * √n-stride codebook, assignment, nlist/8 probes, candidate
    * equi-join, 4-dp exact re-rank, the brute exact top-3, and the
    * integer recall/floor arithmetic, all value-checked.
    */
  private def annIvfClusteredOracleSql: String =
    s"""WITH $clusteredEmbSql,
       cb AS (SELECT vec_id AS centroid_id, v AS cv FROM ce
              WHERE vec_id % $sqrtStrideSql = 0
              ORDER BY centroid_id LIMIT 16384),
       np AS (SELECT GREATEST(7, count(*) // 8) AS v FROM cb),
       sim AS (SELECT ce.vec_id, cb.centroid_id,
                 list_dot_product(ce.v, cb.cv)
                 / sqrt(list_dot_product(ce.v, ce.v)
                        * list_dot_product(cb.cv, cb.cv)) AS s
               FROM ce CROSS JOIN cb),
       rk AS (SELECT vec_id, centroid_id, s,
                row_number() OVER (PARTITION BY vec_id
                     ORDER BY s DESC, centroid_id) AS rn
              FROM sim WHERE NOT isnan(s)),
       asg AS (SELECT vec_id AS cid, centroid_id FROM rk WHERE rn = 1),
       pb AS (SELECT vec_id AS qid, centroid_id FROM rk
              WHERE rn <= (SELECT v FROM np) AND vec_id % 20 = 0),
       cand AS (SELECT pb.qid, asg.cid
                FROM pb JOIN asg USING (centroid_id)
                WHERE pb.qid <> asg.cid),
       s2 AS (SELECT cand.qid, cand.cid,
                round(list_dot_product(q.v, c.v)
                      / sqrt(list_dot_product(q.v, q.v)
                             * list_dot_product(c.v, c.v)), 4) AS sim_r
              FROM cand JOIN ce q ON cand.qid = q.vec_id
                        JOIN ce c ON cand.cid = c.vec_id),
       ap AS (SELECT qid, cid FROM (
                SELECT qid, cid, row_number() OVER (PARTITION BY qid
                     ORDER BY sim_r DESC, cid) AS rnk FROM s2) z
              WHERE rnk <= 3),
       ex AS (SELECT qid, cid FROM (
                SELECT q.vec_id AS qid, c.vec_id AS cid,
                  row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY round(list_dot_product(q.v, c.v)
                                / sqrt(list_dot_product(q.v, q.v)
                                       * list_dot_product(c.v, c.v)), 4)
                         DESC, c.vec_id) AS rnk
                FROM (SELECT vec_id, v FROM ce WHERE vec_id % 20 = 0) q
                JOIN ce c ON q.vec_id <> c.vec_id) z
              WHERE rnk <= 3),
       tot AS (SELECT count(*) AS n_exact FROM ex),
       h AS (SELECT count(*) AS hits FROM ap JOIN ex USING (qid, cid))
       SELECT CAST((SELECT count(*) FROM cb) AS INTEGER) AS nlist,
              CAST((SELECT v FROM np) AS INTEGER) AS nprobe,
              CAST(tot.n_exact AS BIGINT) AS n_exact,
              CAST(h.hits AS BIGINT) AS hits,
              CAST((h.hits * 1000000) // tot.n_exact AS BIGINT)
                AS recall_e6,
              CAST(CASE WHEN (h.hits * 1000000) // tot.n_exact >= 900000
                   THEN 1 ELSE 0 END AS INTEGER) AS floor_met
       FROM tot CROSS JOIN h"""

  /** Full [[annFilteredClustered]] replay — generation, the
    * cluster-independent label, codebook, assignment, nlist/8 probes,
    * the label-conjoined candidate join, exact re-rank, the brute
    * exact FILTERED top-3, and the recall/floor arithmetic.
    */
  private def annFilteredClusteredOracleSql: String =
    s"""WITH $clusteredEmbSql,
       cel AS (SELECT vec_id, (vec_id // 32) % 10 AS label, v FROM ce),
       cb AS (SELECT vec_id AS centroid_id, v AS cv FROM cel
              WHERE vec_id % $sqrtStrideSql = 0
              ORDER BY centroid_id LIMIT 16384),
       np AS (SELECT GREATEST(7, count(*) // 8) AS v FROM cb),
       sim AS (SELECT cel.vec_id, cel.label, cb.centroid_id,
                 list_dot_product(cel.v, cb.cv)
                 / sqrt(list_dot_product(cel.v, cel.v)
                        * list_dot_product(cb.cv, cb.cv)) AS s
               FROM cel CROSS JOIN cb),
       rk AS (SELECT vec_id, label, centroid_id, s,
                row_number() OVER (PARTITION BY vec_id
                     ORDER BY s DESC, centroid_id) AS rn
              FROM sim WHERE NOT isnan(s)),
       asg AS (SELECT vec_id AS cid, label AS clabel, centroid_id
               FROM rk WHERE rn = 1),
       pb AS (SELECT vec_id AS qid, label AS qlabel, centroid_id
              FROM rk
              WHERE rn <= (SELECT v FROM np) AND vec_id % 20 = 0),
       cand AS (SELECT pb.qid, asg.cid
                FROM pb JOIN asg USING (centroid_id)
                WHERE pb.qid <> asg.cid AND asg.clabel = pb.qlabel),
       s2 AS (SELECT cand.qid, cand.cid,
                round(list_dot_product(q.v, c.v)
                      / sqrt(list_dot_product(q.v, q.v)
                             * list_dot_product(c.v, c.v)), 4) AS sim_r
              FROM cand JOIN cel q ON cand.qid = q.vec_id
                        JOIN cel c ON cand.cid = c.vec_id),
       ap AS (SELECT qid, cid FROM (
                SELECT qid, cid, row_number() OVER (PARTITION BY qid
                     ORDER BY sim_r DESC, cid) AS rnk FROM s2) z
              WHERE rnk <= 3),
       ex AS (SELECT qid, cid FROM (
                SELECT q.vec_id AS qid, c.vec_id AS cid,
                  row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY round(list_dot_product(q.v, c.v)
                                / sqrt(list_dot_product(q.v, q.v)
                                       * list_dot_product(c.v, c.v)), 4)
                         DESC, c.vec_id) AS rnk
                FROM (SELECT vec_id, label, v FROM cel
                      WHERE vec_id % 20 = 0) q
                JOIN cel c ON q.vec_id <> c.vec_id
                          AND q.label = c.label) z
              WHERE rnk <= 3),
       tot AS (SELECT count(*) AS n_exact FROM ex),
       h AS (SELECT count(*) AS hits FROM ap JOIN ex USING (qid, cid))
       SELECT CAST((SELECT count(*) FROM cb) AS INTEGER) AS nlist,
              CAST((SELECT v FROM np) AS INTEGER) AS nprobe,
              CAST(tot.n_exact AS BIGINT) AS n_exact,
              CAST(h.hits AS BIGINT) AS hits,
              CAST((h.hits * 1000000) // tot.n_exact AS BIGINT)
                AS recall_e6,
              CAST(CASE WHEN (h.hits * 1000000) // tot.n_exact >= 900000
                   THEN 1 ELSE 0 END AS INTEGER) AS floor_met
       FROM tot CROSS JOIN h"""

  /** Full [[maxsimIvfClustered]] replay — generation, the four
    * per-facet codebook/assignment/probe chains at nlist/8, the
    * cross-facet candidate union, the 16-cosine MaxSim re-rank, the
    * exact all-pairs MaxSim top-3, and the recall/floor arithmetic
    * ([[maxsimBudgetCurveOracleSql]]'s facet machinery pointed at the
    * generated corpus).
    */
  private def maxsimIvfClusteredOracleSql: String = {
    def cos(i: Int, j: Int): String = {
      val (a, b) = (i * 16 + 1, (i + 1) * 16)
      val (c, d) = (j * 16 + 1, (j + 1) * 16)
      s"(list_dot_product(qv[$a:$b], cv[$c:$d]) " +
        s"/ sqrt(list_dot_product(qv[$a:$b], qv[$a:$b]) " +
        s"* list_dot_product(cv[$c:$d], cv[$c:$d])))"
    }
    val score = (0 until 4).map { i =>
      s"greatest(${(0 until 4).map(j => cos(i, j)).mkString(", ")})"
    }.mkString(" + ")
    def facet(j: Int): String = {
      val (a, b) = (j * 16 + 1, (j + 1) * 16)
      s"""sim_$j AS (SELECT ce.vec_id, cb.centroid_id,
             list_dot_product(ce.v[$a:$b], cb.cv[$a:$b])
             / sqrt(list_dot_product(ce.v[$a:$b], ce.v[$a:$b])
                    * list_dot_product(cb.cv[$a:$b], cb.cv[$a:$b])) AS s
           FROM ce CROSS JOIN cb),
         rk_$j AS (SELECT vec_id, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                  ORDER BY s DESC, centroid_id) AS rn
           FROM sim_$j WHERE NOT isnan(s)),
         asg_$j AS (SELECT vec_id AS cid, centroid_id
                    FROM rk_$j WHERE rn = 1),
         pb_$j AS (SELECT vec_id AS qid, centroid_id FROM rk_$j
                   WHERE rn <= (SELECT v FROM np) AND vec_id % 20 = 0),
         cd_$j AS (SELECT pb.qid, asg.cid
                   FROM pb_$j pb JOIN asg_$j asg USING (centroid_id)
                   WHERE pb.qid <> asg.cid)"""
    }
    s"""WITH $clusteredEmbSql,
       cb AS (SELECT vec_id AS centroid_id, v AS cv FROM ce
              WHERE vec_id % $sqrtStrideSql = 0
              ORDER BY centroid_id LIMIT 16384),
       np AS (SELECT GREATEST(7, count(*) // 8) AS v FROM cb),
       ${(0 until 4).map(facet).mkString(",\n       ")},
       cand AS (SELECT DISTINCT qid, cid
                FROM (SELECT * FROM cd_0 UNION ALL SELECT * FROM cd_1
                      UNION ALL SELECT * FROM cd_2
                      UNION ALL SELECT * FROM cd_3) u),
       ms AS (SELECT cand.qid, cand.cid, round($score, 4) AS maxsim_r
              FROM cand JOIN (SELECT vec_id, v AS qv FROM ce) q
                          ON cand.qid = q.vec_id
                        JOIN (SELECT vec_id, v AS cv FROM ce) c
                          ON cand.cid = c.vec_id),
       ap AS (SELECT qid, cid FROM (
                SELECT qid, cid, row_number() OVER (PARTITION BY qid
                     ORDER BY maxsim_r DESC, cid) AS rnk FROM ms) z
              WHERE rnk <= 3),
       ex AS (SELECT qid, cid FROM (
                SELECT q.vec_id AS qid, c.vec_id AS cid,
                  row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY round(${score.replace("qv", "q.v")
      .replace("cv", "c.v")}, 4) DESC, c.vec_id) AS rnk
                FROM (SELECT vec_id, v FROM ce WHERE vec_id % 20 = 0) q
                JOIN ce c ON q.vec_id <> c.vec_id) z
              WHERE rnk <= 3),
       tot AS (SELECT count(*) AS n_exact FROM ex),
       h AS (SELECT count(*) AS hits FROM ap JOIN ex USING (qid, cid))
       SELECT CAST((SELECT count(*) FROM cb) AS INTEGER) AS nlist,
              CAST((SELECT v FROM np) AS INTEGER) AS nprobe,
              CAST(tot.n_exact AS BIGINT) AS n_exact,
              CAST(h.hits AS BIGINT) AS hits,
              CAST((h.hits * 1000000) // tot.n_exact AS BIGINT)
                AS recall_e6,
              CAST(CASE WHEN (h.hits * 1000000) // tot.n_exact >= 900000
                   THEN 1 ELSE 0 END AS INTEGER) AS floor_met
       FROM tot CROSS JOIN h"""
  }

  /** Full [[maxsimRank]] replay: the 16 sub-pair cosines over double
    * list slices, per-facet greatest, the left-assoc facet sum, 4-dp
    * round, and the (score DESC, cid) top-3 window — generated so the
    * slice bounds come from ONE place.
    */
  private def maxsimOracleSql: String = {
    def cos(i: Int, j: Int): String = {
      val (a, b) = (i * 16 + 1, (i + 1) * 16)
      val (c, d) = (j * 16 + 1, (j + 1) * 16)
      s"(list_dot_product(qv[$a:$b], cv[$c:$d]) " +
        s"/ sqrt(list_dot_product(qv[$a:$b], qv[$a:$b]) " +
        s"* list_dot_product(cv[$c:$d], cv[$c:$d])))"
    }
    val score = (0 until 4).map { i =>
      s"greatest(${(0 until 4).map(j => cos(i, j)).mkString(", ")})"
    }.mkString(" + ")
    s"""WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id % 20 = 0),
       c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
             FROM embeddings),
       s AS (SELECT qid, cid, round($score, 4) AS maxsim_r
             FROM q JOIN c ON qid <> cid),
       r AS (SELECT qid, cid, maxsim_r,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY maxsim_r DESC, cid) AS INTEGER) AS rnk
             FROM s)
       SELECT qid, cid, maxsim_r, rnk FROM r WHERE rnk <= 3
       ORDER BY qid, rnk"""
  }

  /** [[graft.ops.Similarity.sqrtStride]] replayed in SQL: stride =
    * max(1, ⌊√n / 4⌋) from the corpus count — identical IEEE
    * sqrt/floor to the engine's.
    */
  private val sqrtStrideSql: String =
    """(SELECT GREATEST(1, CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) / 4)
        AS BIGINT)) FROM embeddings)"""

  /** [[graft.ops.Similarity.derivedNprobe]] replayed in SQL:
    * max(7, nlist // 8) over the sampled codebook CTE `cb` (integer
    * floor division on a non-negative count — same as Scala's
    * truncating `/`).
    */
  private val derivedNprobeSql: String =
    "(SELECT GREATEST(7, count(*) // 8) FROM cb)"

  /** All-pairs word-trigram Jaccard recompute shared by the
    * `dedup_minhash` and `dedup_salted` oracles (both operators must
    * land on this exact pair set — see dedupMinhash scaladoc for the
    * measured recall-1.0 argument that makes it valid).
    */
  private val minhashAllPairsSql: String =
    """WITH tk AS (
         SELECT doc_id,
                list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            x -> len(x) > 0) AS t
         FROM documents),
       g AS (
         SELECT doc_id AS id,
                CASE WHEN len(t) >= 3
                     THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                         for i in range(1, len(t) - 1)])
                     ELSE [array_to_string(t, ' ')] END AS gs
         FROM tk)
       SELECT a.id AS id_a, b.id AS id_b,
              round(len(list_intersect(a.gs, b.gs))::DOUBLE
                    / len(list_distinct(list_concat(a.gs, b.gs))), 4) AS jaccard
       FROM g a JOIN g b ON b.id > a.id
       WHERE len(list_intersect(a.gs, b.gs))::DOUBLE
             / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.7
       ORDER BY id_a, id_b"""

  /** Full [[annIvfTrained]] replay: the spherical-k-means training
    * loop UNROLLED into SQL (the BPE-oracle precedent applied to
    * Lloyd iterations), possible because the r7 trainer accumulates
    * per-(cluster, dim) cell sums in e12 int64 fixed point — integer
    * addition is shuffle-order-independent, so the codebook is
    * bit-reproducible and every arithmetic step replays:
    * assignment = (cosine DESC, cid) argmax over the previous
    * iteration's centroids (NaN-skipped), cell sum =
    * Σ floor(x/‖v‖·10¹² + 0.5) as BIGINT, new centroid = the float
    * roundings the driver applies (REAL casts at exactly the two
    * .toFloat points), empty clusters keep their predecessor. After
    * [[AnnIvfTrainedIters]] iterations the probe/re-rank replay is the
    * annIvf oracle against the TRAINED codebook.
    */
  private val AnnIvfTrainedIters = 4

  private def cosSql(a: String, b: String): String =
    s"""list_dot_product($a, $b)
        / sqrt(list_dot_product($a, $a) * list_dot_product($b, $b))"""

  /** CTE chain replaying [[Similarity.kmeansTrain]] over the raw
    * FLOAT[] slice `sliceSql` of `embedding` (full vector or a PQ
    * subspace, length `sub`): seeds = first `kLimitSql` rows with
    * vec_id % 97 = 0, then `iters` unrolled Lloyd iterations —
    * (cosine DESC, cid) argmax assignment with NaN skip, e12-int64
    * cell sums (the r7 order-independent trainer), and the driver's
    * two float-rounding points as REAL casts; empty clusters keep
    * their predecessor. Emits `${p}e` (corpus slice as DOUBLE[]) and
    * `${p}cent_0..iters`; all names are `p`-prefixed so multiple
    * codebooks (the PQ replay) coexist in one WITH chain.
    */
  private def lloydCtes(p: String, iters: Int, kLimitSql: String,
                        sliceSql: String, sub: Int): String = {
    val head =
      s"""${p}e AS (SELECT vec_id, CAST($sliceSql AS DOUBLE[]) AS v
                    FROM embeddings),
         ${p}cent_0 AS (
           SELECT rn - 1 AS cid, CAST(es AS REAL[]) AS c
           FROM (SELECT $sliceSql AS es,
                        row_number() OVER (ORDER BY vec_id) AS rn
                 FROM embeddings WHERE vec_id % 97 = 0) s
           WHERE rn <= $kLimitSql)"""
    val iterCtes = (1 to iters).map { i =>
      val prev = s"${p}cent_${i - 1}"
      s"""${p}asg_$i AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid,
                    ${cosSql("e.v", "CAST(c.c AS DOUBLE[])")} AS s
             FROM ${p}e e CROSS JOIN $prev c) z
           WHERE NOT isnan(s)
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY s DESC, cid) = 1),
         ${p}upd_$i AS (
           SELECT cid, i - 1 AS d,
                  sum(CAST(floor(v[i] / nrm * 1e12 + 0.5) AS BIGINT)) AS sx
           FROM (SELECT cid, v, sqrt(list_dot_product(v, v)) AS nrm
                 FROM ${p}asg_$i) a
           CROSS JOIN range(1, ${sub + 1}) t(i)
           WHERE nrm > 0
           GROUP BY cid, i),
         ${p}cvec_$i AS (
           SELECT cid,
                  list(CAST(CAST(sx AS DOUBLE) / 1e12 AS REAL)
                       ORDER BY d) AS craw
           FROM ${p}upd_$i GROUP BY cid),
         ${p}norm_$i AS (
           SELECT cid, craw,
                  sqrt(list_dot_product(CAST(craw AS DOUBLE[]),
                                        CAST(craw AS DOUBLE[]))) AS n2
           FROM ${p}cvec_$i),
         ${p}cent_$i AS (
           SELECT p.cid,
                  CASE WHEN n.n2 > 0
                       THEN list_transform(n.craw,
                              x -> CAST(CAST(x AS DOUBLE) / n.n2 AS REAL))
                       ELSE p.c END AS c
           FROM $prev p LEFT JOIN ${p}norm_$i n ON p.cid = n.cid)"""
    }.mkString(",\n")
    head + ",\n" + iterCtes
  }

  private def annIvfTrainedOracleSql: String =
    s"""WITH nn AS (SELECT greatest(4, count(*) // 149) AS k
                    FROM embeddings),
       ${lloydCtes("t_", AnnIvfTrainedIters, "(SELECT k FROM nn)",
                   "embedding", 64)},
       cbf AS (SELECT cid AS centroid_id,
                      CAST(c AS DOUBLE[]) AS cv
               FROM t_cent_$AnnIvfTrainedIters),
       sim AS (SELECT e.vec_id, cbf.centroid_id,
                 ${cosSql("e.v", "cbf.cv")} AS s
               FROM t_e e CROSS JOIN cbf),
       rk AS (SELECT vec_id, centroid_id, s,
                row_number() OVER (PARTITION BY vec_id
                     ORDER BY s DESC, centroid_id) AS rn
              FROM sim WHERE NOT isnan(s)),
       asg AS (SELECT vec_id AS cid, centroid_id FROM rk WHERE rn = 1),
       pb AS (SELECT vec_id AS qid, centroid_id FROM rk
              WHERE rn <= 7 AND vec_id % 20 = 0),
       cand AS (SELECT pb.qid, asg.cid
                FROM pb JOIN asg USING (centroid_id)
                WHERE pb.qid <> asg.cid),
       s2 AS (SELECT cand.qid, cand.cid,
                round(${cosSql("q.v", "c.v")}, 4) AS sim_r
              FROM cand JOIN t_e q ON cand.qid = q.vec_id
                        JOIN t_e c ON cand.cid = c.vec_id),
       r AS (SELECT qid, cid, sim_r,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY sim_r DESC, cid) AS INTEGER) AS rnk
             FROM s2)
       SELECT qid, cid, sim_r, rnk FROM r WHERE rnk <= 3
       ORDER BY qid, rnk"""

  /** Full [[semanticDedup]] replay: train the k=16 / 2-iteration
    * codebook in SQL (the shared Lloyd chain), assign every vector to
    * its nearest trained centroid, and apply the greedy
    * drop-every-smaller-id-witnessed rule at cosine ≥ 0.3 — the
    * SemDeDup semantics recomputed end-to-end.
    */
  private def semanticDedupOracleSql: String =
    s"""WITH ${lloydCtes("k_", 2, "16", "embedding", 64)},
       fin AS (
         SELECT vec_id AS id, v, cid AS cluster FROM (
           SELECT e.vec_id, e.v, c.cid,
                  ${cosSql("e.v", "CAST(c.c AS DOUBLE[])")} AS s
           FROM k_e e CROSS JOIN k_cent_2 c) z
         WHERE NOT isnan(s)
         QUALIFY row_number() OVER (PARTITION BY vec_id
                                    ORDER BY s DESC, cid) = 1),
       drp AS (
         SELECT DISTINCT b.id
         FROM fin a JOIN fin b
           ON a.cluster = b.cluster AND a.id < b.id
         WHERE ${cosSql("a.v", "b.v")} >= 0.3)
       SELECT f.id, f.cluster FROM fin f
       LEFT JOIN drp d ON f.id = d.id
       WHERE d.id IS NULL ORDER BY f.id"""

  /** Full [[pqEncode]] replay: 8 independent sub-codebook trainings
    * over the 8-dim slices (the fused trainer is pinned bit-equal to
    * independent trainings by KmeansMultiSpec, so the replay trains
    * each subspace separately), then per-subspace argmax codes joined
    * into the comma-string the engine emits.
    */
  private def pqEncodeOracleSql: String = {
    val m = 8; val sub = 8
    val chains = (0 until m).map { j =>
      lloydCtes(s"p${j}_", 2, "16",
        s"embedding[${j * sub + 1}:${(j + 1) * sub}]", sub)
    }.mkString(",\n")
    val codes = (0 until m).map { j =>
      s"""code_$j AS (
           SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid,
                    ${cosSql("e.v", "CAST(c.c AS DOUBLE[])")} AS s
             FROM p${j}_e e CROSS JOIN p${j}_cent_2 c) z
           WHERE NOT isnan(s)
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY s DESC, cid) = 1)"""
    }.mkString(",\n")
    val joins = (0 until m)
      .map(j => s"JOIN code_$j c$j ON b.vec_id = c$j.vec_id").mkString(" ")
    val codeStr = (0 until m).map(j => s"CAST(c$j.cid AS VARCHAR)")
      .mkString(" || ',' || ")
    s"""WITH $chains,
       $codes
       SELECT b.vec_id AS id, $codeStr AS code
       FROM embeddings b $joins
       ORDER BY id"""
  }

  /** Full [[annIvfpq]] replay (IVFADC+R end-to-end): 16 sub-codebook
    * trainings (4-dim slices), per-vector PQ codes WITH their chosen
    * sub-centroids, reconstruction by flatten-concat, the sampled
    * coarse quantizer's list assignment and 7-probe search (the
    * ann_ivf replay), ADC ranking on cosine(query, reconstruction)
    * to the top-128 shortlist, and the exact re-rank to top-3.
    */
  private def annIvfpqOracleSql: String =
    annIvfpqOracleSqlFor("TRUE", "149", "7")

  /** [[annIvfpqOracleSql]] with the query restriction and the coarse
    * quantizer's stride/nprobe parameterized — `ann_ivfpq` replays
    * the in-plan 149/7 shape over all queries; `ann_ivfpq_indexed` /
    * `ann_ivfpq_delta` replay the persisted index's √n-stride /
    * derived-nprobe sizing for their one served query (the delta row
    * adds the pinned maintenance-consistency flag via `extraCols`).
    */
  private def annIvfpqOracleSqlFor(qidWhere: String, strideSql: String,
                                   nprobeSql: String,
                                   extraCols: String = "",
                                   survivorWhere: String = "TRUE"): String = {
    val m = 16; val sub = 4
    val chains = (0 until m).map { j =>
      lloydCtes(s"q${j}_", 2, "16",
        s"embedding[${j * sub + 1}:${(j + 1) * sub}]", sub)
    }.mkString(",\n")
    val codes = (0 until m).map { j =>
      s"""qcode_$j AS (
           SELECT vec_id, c AS cvec FROM (
             SELECT e.vec_id, c.cid, c.c,
                    ${cosSql("e.v", "CAST(c.c AS DOUBLE[])")} AS s
             FROM q${j}_e e CROSS JOIN q${j}_cent_2 c) z
           WHERE NOT isnan(s)
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY s DESC, cid) = 1)"""
    }.mkString(",\n")
    val reconJoins = (0 until m)
      .map(j => s"JOIN qcode_$j r$j ON b.vec_id = r$j.vec_id").mkString(" ")
    val reconList = (0 until m).map(j => s"r$j.cvec").mkString(", ")
    s"""WITH $chains,
       $codes,
       recon AS (
         SELECT b.vec_id AS cid,
                CAST(flatten([$reconList]) AS DOUBLE[]) AS rv
         FROM embeddings b $reconJoins),
       e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
       e AS (SELECT * FROM e0 WHERE $survivorWhere),
       cb AS (SELECT vec_id AS centroid_id, v AS cv FROM e0
              WHERE vec_id % $strideSql = 0
              ORDER BY centroid_id LIMIT 16384),
       sim AS (SELECT e.vec_id, cb.centroid_id,
                 ${cosSql("e.v", "cb.cv")} AS s
               FROM e CROSS JOIN cb),
       rk AS (SELECT vec_id, centroid_id, s,
                row_number() OVER (PARTITION BY vec_id
                     ORDER BY s DESC, centroid_id) AS rn
              FROM sim WHERE NOT isnan(s)),
       asg AS (SELECT vec_id AS cid, centroid_id FROM rk WHERE rn = 1),
       pb AS (SELECT vec_id AS qid, centroid_id FROM rk
              WHERE rn <= $nprobeSql AND vec_id % 20 = 0
                AND ($qidWhere)),
       adc AS (
         SELECT qid, cid FROM (
           SELECT pb.qid, asg.cid,
                  row_number() OVER (PARTITION BY pb.qid ORDER BY
                    ${cosSql("q.v", "r.rv")} DESC, asg.cid) AS arnk
           FROM pb JOIN asg USING (centroid_id)
                   JOIN recon r ON asg.cid = r.cid
                   JOIN e q ON pb.qid = q.vec_id
           WHERE pb.qid <> asg.cid) z
         WHERE arnk <= 128),
       s2 AS (SELECT adc.qid, adc.cid,
                round(${cosSql("q.v", "c.v")}, 4) AS sim_r
              FROM adc JOIN e q ON adc.qid = q.vec_id
                       JOIN e c ON adc.cid = c.vec_id),
       r AS (SELECT qid, cid, sim_r,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY sim_r DESC, cid) AS INTEGER) AS rnk
             FROM s2)
       SELECT qid, cid, sim_r, rnk$extraCols FROM r WHERE rnk <= 3
       ORDER BY qid, rnk"""
  }

  /** Full [[annSqTopk]] replay: per-dimension [min, max] over the
    * double-widened corpus ([[graft.ops.Similarity.sqStats]]), the
    * affine SQ8 code (floor + clamp — exactly [[Similarity.sqEncode]]'s
    * operation order), the dequantized reconstruction float-rounded
    * (`REAL[]` cast — the engine ranks on `array<float>`
    * reconstructions through the same cosine kernel as the PQ
    * family), ADC top-32 per query by (sim DESC, cid), and the exact
    * re-rank to top-3. No trained state anywhere, so every value
    * hash-compares.
    */
  private def annSqTopkOracleSql: String = {
    val dim = 64
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
       st AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
              FROM e CROSS JOIN range(1, ${dim + 1}) t(i) GROUP BY i),
       cells AS (SELECT e.vec_id, t.i, st.mn, st.mx, e.v[t.i] AS x
                 FROM e CROSS JOIN range(1, ${dim + 1}) t(i)
                 JOIN st ON st.i = t.i),
       rc AS (SELECT vec_id,
                CAST(CAST(list(CASE WHEN mx = mn THEN mn
                       ELSE mn + (LEAST(255, GREATEST(0,
                              floor((x - mn) * 255.0 / (mx - mn) + 0.5)))
                            * (mx - mn)) / 255.0 END ORDER BY i)
                     AS REAL[]) AS DOUBLE[]) AS rv
              FROM cells GROUP BY vec_id),
       adc AS (SELECT qid, cid FROM (
                 SELECT q.vec_id AS qid, r.vec_id AS cid,
                        row_number() OVER (PARTITION BY q.vec_id
                          ORDER BY ${cosSql("q.v", "r.rv")} DESC,
                            r.vec_id) AS arnk
                 FROM e q JOIN rc r ON r.vec_id <> q.vec_id
                 WHERE q.vec_id % 20 = 0) z
               WHERE arnk <= 32),
       s2 AS (SELECT adc.qid, adc.cid,
                round(${cosSql("q.v", "c.v")}, 4) AS sim_r
              FROM adc JOIN e q ON adc.qid = q.vec_id
                       JOIN e c ON adc.cid = c.vec_id),
       r AS (SELECT qid, cid, sim_r,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY sim_r DESC, cid) AS INTEGER) AS rnk
             FROM s2)
       SELECT qid, cid, sim_r, rnk FROM r WHERE rnk <= 3
       ORDER BY qid, rnk"""
  }

  /** Full [[annIvfsqIndexed]] replay — the whole persisted-index
    * lifecycle in SQL: SQ8 stats + float-rounded reconstructions (the
    * [[annSqTopkOracleSql]] arm), the √n-stride coarse quantizer and
    * derived-nprobe probe set (the persisted-IVF sizing rules), ADC
    * top-32 over the probed lists' reconstructions, exact re-rank to
    * top-3 for the one served query.
    */
  private def annIvfsqIndexedOracleSql(extraCols: String = "",
                                       queryPred: String = "vec_id = 0",
                                       corpusWhere: String = "TRUE")
      : String = {
    val dim = 64
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                  FROM embeddings),
       sqst AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
                FROM e CROSS JOIN range(1, ${dim + 1}) t(i) GROUP BY i),
       sqc AS (SELECT e.vec_id, t.i, sqst.mn, sqst.mx, e.v[t.i] AS x
               FROM e CROSS JOIN range(1, ${dim + 1}) t(i)
               JOIN sqst ON sqst.i = t.i),
       rc AS (SELECT vec_id,
                CAST(CAST(list(CASE WHEN mx = mn THEN mn
                       ELSE mn + (LEAST(255, GREATEST(0,
                              floor((x - mn) * 255.0 / (mx - mn) + 0.5)))
                            * (mx - mn)) / 255.0 END ORDER BY i)
                     AS REAL[]) AS DOUBLE[]) AS rv
              FROM sqc GROUP BY vec_id),
       cb AS (SELECT vec_id AS centroid_id, v AS cv FROM e
              WHERE vec_id % $sqrtStrideSql = 0
              ORDER BY centroid_id LIMIT 16384),
       sim AS (SELECT e.vec_id, cb.centroid_id,
                 ${cosSql("e.v", "cb.cv")} AS s
               FROM e CROSS JOIN cb),
       rk AS (SELECT vec_id, centroid_id, s,
                row_number() OVER (PARTITION BY vec_id
                     ORDER BY s DESC, centroid_id) AS rn
              FROM sim WHERE NOT isnan(s)),
       asg AS (SELECT vec_id AS cid, centroid_id FROM rk
               WHERE rn = 1 AND ($corpusWhere)),
       pb AS (SELECT vec_id AS qid, centroid_id FROM rk
              WHERE rn <= $derivedNprobeSql AND ($queryPred)),
       cand AS (SELECT pb.qid, asg.cid
                FROM pb JOIN asg USING (centroid_id)
                WHERE pb.qid <> asg.cid),
       adc AS (SELECT qid, cid FROM (
                 SELECT cand.qid, cand.cid,
                        row_number() OVER (PARTITION BY cand.qid
                          ORDER BY ${cosSql("q.v", "r.rv")} DESC,
                            cand.cid) AS arnk
                 FROM cand JOIN rc r ON cand.cid = r.vec_id
                           JOIN e q ON cand.qid = q.vec_id) z
               WHERE arnk <= 32),
       s2 AS (SELECT adc.qid, adc.cid,
                round(${cosSql("q.v", "c.v")}, 4) AS sim_r
              FROM adc JOIN e q ON adc.qid = q.vec_id
                       JOIN e c ON adc.cid = c.vec_id),
       rr AS (SELECT qid, cid, sim_r,
               CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY sim_r DESC, cid) AS INTEGER) AS rnk
             FROM s2)
       SELECT qid, cid, sim_r, rnk$extraCols FROM rr WHERE rnk <= 3
       ORDER BY qid, rnk"""
  }

  /** mmr_rerank's replay: relevance top-20, all pairwise sims, and
    * the greedy chain as 5 unrolled argmax CTEs (sel_k accumulates
    * the selected set; step k+1 maxes sim against it).
    */
  private def mmrOracleSql: String = {
    val cosSql = (x: String, y: String) =>
      s"""CAST(round(list_dot_product($x, $y)
             / sqrt(list_dot_product($x, $x) * list_dot_product($y, $y))
             * 10000) AS BIGINT)"""
    val steps = (2 to 5).map { k =>
      s"""cand_$k AS (SELECT t.cid, t.rel_e4, max(ps.sim_e4) AS ms
            FROM top t JOIN ps ON ps.i = t.cid
              AND ps.j IN (SELECT cid FROM sel_${k - 1})
            WHERE t.cid NOT IN (SELECT cid FROM sel_${k - 1})
            GROUP BY t.cid, t.rel_e4),
         s_$k AS (SELECT cid, rel_e4, ms AS maxsim_e4,
                    7 * rel_e4 - 3 * ms AS score
                  FROM cand_$k ORDER BY score DESC, cid LIMIT 1),
         sel_$k AS (SELECT cid FROM sel_${k - 1}
                    UNION ALL SELECT cid FROM s_$k)"""
    }.mkString(",\n")
    val rows = (1 to 5).map(k =>
      s"""SELECT CAST($k AS INTEGER) AS rank, cid, rel_e4, maxsim_e4,
            score FROM s_$k""").mkString(" UNION ALL ")
    s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id = 0),
       c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
             FROM embeddings WHERE vec_id <> 0),
       rel AS (SELECT cid, cv, ${cosSql("cv", "qv")} AS rel_e4
               FROM c CROSS JOIN q),
       top AS (SELECT * FROM rel ORDER BY rel_e4 DESC, cid LIMIT 20),
       ps AS (SELECT a.cid AS i, b.cid AS j,
                ${cosSql("a.cv", "b.cv")} AS sim_e4
              FROM top a JOIN top b ON a.cid <> b.cid),
       s_1 AS (SELECT cid, rel_e4, CAST(0 AS BIGINT) AS maxsim_e4,
                 7 * rel_e4 AS score
               FROM top ORDER BY score DESC, cid LIMIT 1),
       sel_1 AS (SELECT cid FROM s_1),
       $steps
       $rows ORDER BY rank"""
  }

  /** Shared PCA replay chain: e6 quantization → truncating-division
    * means → exact integer covariance cells (mirrored from the upper
    * triangle) → three power iterations in HUGEINT with max-abs
    * truncating renormalization. Every step is the identical integer
    * arithmetic the Spark side runs (BigInt driver math; magnitudes
    * peak ~10²³ ≪ HUGEINT's 1.7·10³⁸).
    */
  private val pcaChainSql: String =
    """WITH e AS (SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS xe
           FROM embeddings),
       x AS MATERIALIZED (SELECT vec_id, unnest(range(0, len(xe))) AS d,
                    unnest(xe) AS v
             FROM e),
       mu AS (SELECT d, CAST(sum(v) // count(*) AS BIGINT) AS m
              FROM x GROUP BY d),
       c AS (SELECT vec_id, d, v - m AS cv FROM x JOIN mu USING (d)),
       cell0 AS (SELECT a.d AS i, b.d AS j,
                        sum(CAST(a.cv AS HUGEINT) * b.cv) AS s
                 FROM c a JOIN c b
                   ON a.vec_id = b.vec_id AND b.d >= a.d
                 GROUP BY 1, 2),
       cells AS MATERIALIZED (SELECT i, j, s FROM cell0
                 UNION ALL
                 SELECT j AS i, i AS j, s FROM cell0 WHERE j > i),
       v0 AS (SELECT d, CAST(1000000 AS HUGEINT) AS v FROM mu),
       w1 AS (SELECT cells.i AS d, sum(cells.s * v0.v) AS w
              FROM cells JOIN v0 ON cells.j = v0.d GROUP BY 1),
       v1 AS MATERIALIZED (SELECT d,
                   (w * 1000000) // (SELECT max(abs(w)) FROM w1)
                   AS v FROM w1),
       w2 AS (SELECT cells.i AS d, sum(cells.s * v1.v) AS w
              FROM cells JOIN v1 ON cells.j = v1.d GROUP BY 1),
       v2 AS MATERIALIZED (SELECT d,
                   (w * 1000000) // (SELECT max(abs(w)) FROM w2)
                   AS v FROM w2),
       w3 AS (SELECT cells.i AS d, sum(cells.s * v2.v) AS w
              FROM cells JOIN v2 ON cells.j = v2.d GROUP BY 1),
       v3 AS MATERIALIZED (SELECT d,
                   (w * 1000000) // (SELECT max(abs(w)) FROM w3)
                   AS v FROM w3)"""

  /** The deflated-direction CTE chain shared by `pca_second` and
    * `pca_project2` (rides on top of pcaChainSql's v-chain): per step
    * one C·u multiply, the truncating Gram-Schmidt scalar t FIRST,
    * the projection, then the max-norm.
    */
  private val pcaDeflationSql: String = """,
       u0 AS (SELECT d, CAST(CASE WHEN d % 2 = 0 THEN 1000000
                                  ELSE -1000000 END AS HUGEINT) AS v
              FROM mu),
       uw1 AS MATERIALIZED (SELECT cells.i AS d, sum(cells.s * u0.v) AS w
               FROM cells JOIN u0 ON cells.j = u0.d GROUP BY 1),
       t1 AS (SELECT (SELECT sum(uw1.w * v3.v)
                      FROM uw1 JOIN v3 USING (d))
                     // (SELECT sum(v * v) FROM v3) AS t),
       uc1 AS MATERIALIZED (SELECT uw1.d, uw1.w - (SELECT t FROM t1) * v3.v AS w
               FROM uw1 JOIN v3 USING (d)),
       u1 AS MATERIALIZED (SELECT d, (w * 1000000) // (SELECT max(abs(w)) FROM uc1)
                   AS v FROM uc1),
       uw2 AS MATERIALIZED (SELECT cells.i AS d, sum(cells.s * u1.v) AS w
               FROM cells JOIN u1 ON cells.j = u1.d GROUP BY 1),
       t2 AS (SELECT (SELECT sum(uw2.w * v3.v)
                      FROM uw2 JOIN v3 USING (d))
                     // (SELECT sum(v * v) FROM v3) AS t),
       uc2 AS MATERIALIZED (SELECT uw2.d, uw2.w - (SELECT t FROM t2) * v3.v AS w
               FROM uw2 JOIN v3 USING (d)),
       u2 AS MATERIALIZED (SELECT d, (w * 1000000) // (SELECT max(abs(w)) FROM uc2)
                   AS v FROM uc2),
       uw3 AS MATERIALIZED (SELECT cells.i AS d, sum(cells.s * u2.v) AS w
               FROM cells JOIN u2 ON cells.j = u2.d GROUP BY 1),
       t3 AS (SELECT (SELECT sum(uw3.w * v3.v)
                      FROM uw3 JOIN v3 USING (d))
                     // (SELECT sum(v * v) FROM v3) AS t),
       uc3 AS MATERIALIZED (SELECT uw3.d, uw3.w - (SELECT t FROM t3) * v3.v AS w
               FROM uw3 JOIN v3 USING (d)),
       u3 AS MATERIALIZED (SELECT d, (w * 1000000) // (SELECT max(abs(w)) FROM uc3)
                   AS v FROM uc3)"""

  val oracle: Map[String, String] = Map(
    // the full spectral-trainer replay: all three power-iteration
    // vectors hash-compare (the quality_train trajectory discipline
    // applied to an eigensolver)
    "pca_power" -> (pcaChainSql +
      """
       SELECT iter, CAST(d AS INTEGER) AS d, CAST(v AS BIGINT) AS v_e6
       FROM (SELECT 1 AS iter, d, v FROM v1
             UNION ALL SELECT 2, d, v FROM v2
             UNION ALL SELECT 3, d, v FROM v3)
       ORDER BY iter, d"""),
    "pca_project" -> (pcaChainSql +
      """,
       p AS (SELECT c.vec_id, sum(CAST(c.cv AS HUGEINT) * v3.v) AS praw
             FROM c JOIN v3 USING (d) GROUP BY c.vec_id)
       SELECT vec_id, CAST(praw // 1000000 AS BIGINT) AS proj_e6
       FROM p ORDER BY vec_id"""),
    // exact explained-variance share: num = Σ praw², den = |v|²·Σ|c|²
    // — all integers, so the ⌊100·num/den⌋ percentage and the
    // above-average-dimension flag replay exactly
    "pca_gate" -> (pcaChainSql +
      """,
       p AS (SELECT c.vec_id,
                    sum(CAST(c.cv AS HUGEINT) * v3.v) AS praw,
                    sum(CAST(c.cv AS HUGEINT) * c.cv) AS c2
             FROM c JOIN v3 USING (d) GROUP BY c.vec_id),
       tot AS (SELECT count(*) AS n, sum(praw * praw) AS num,
                      sum(c2) AS tr
               FROM p),
       vv AS (SELECT sum(v * v) AS v2, count(*) AS nd FROM v3)
       SELECT n AS n_vectors,
              CAST((num * 100) // (v2 * tr) AS BIGINT) AS explained_pct,
              CAST(CASE WHEN num * nd >= v2 * tr THEN 1 ELSE 0 END
                   AS INTEGER) AS above_avg_dim
       FROM tot, vv"""),
    // the deflation chain on top of the shared v₁ replay: per step
    // one C·u multiply, the truncating Gram–Schmidt scalar t computed
    // FIRST (keeping magnitudes in the plain iteration's envelope),
    // the projection, then the max-norm
    "pca_second" -> (pcaChainSql + pcaDeflationSql +
      """
       SELECT iter, CAST(d AS INTEGER) AS d, CAST(v AS BIGINT) AS u_e6
       FROM (SELECT 1 AS iter, d, v FROM u1
             UNION ALL SELECT 2, d, v FROM u2
             UNION ALL SELECT 3, d, v FROM u3)
       ORDER BY iter, d"""),
    // both chains + both per-row dot products: the 2-D basis projection
    "pca_project2" -> (pcaChainSql + pcaDeflationSql +
      """,
       p AS (SELECT c.vec_id, sum(CAST(c.cv AS HUGEINT) * v3.v) AS p1raw
             FROM c JOIN v3 USING (d) GROUP BY c.vec_id),
       q AS (SELECT c.vec_id, sum(CAST(c.cv AS HUGEINT) * u3.v) AS p2raw
             FROM c JOIN u3 USING (d) GROUP BY c.vec_id)
       SELECT vec_id, CAST(p1raw // 1000000 AS BIGINT) AS p1_e6,
              CAST(p2raw // 1000000 AS BIGINT) AS p2_e6
       FROM p JOIN q USING (vec_id) ORDER BY vec_id"""),
    // the running-moments trajectory: batch 0 = the parity-0 slice's
    // trunc-mean/exact-isqrt-sigma, batch 1 = the full corpus (raw
    // moments are additive, so the stream's merge must land exactly
    // on the whole-corpus statistics)
    "stream_moments" ->
      """WITH e AS (SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS xe
           FROM embeddings),
       x AS (SELECT vec_id, unnest(range(0, len(xe))) AS d,
                    unnest(xe) AS v
             FROM e),
       s0 AS (SELECT d, sum(v) AS sv,
                     sum(CAST(v AS HUGEINT) * v) AS pv, count(*) AS n
              FROM x WHERE vec_id % 2 = 0 GROUP BY d),
       s1 AS (SELECT d, sum(v) AS sv,
                     sum(CAST(v AS HUGEINT) * v) AS pv, count(*) AS n
              FROM x GROUP BY d),
       u AS (SELECT CAST(0 AS BIGINT) AS batch, d, sv, pv, n FROM s0
             UNION ALL
             SELECT CAST(1 AS BIGINT) AS batch, d, sv, pv, n FROM s1),
       m AS (SELECT batch, d, CAST(sv // n AS BIGINT) AS mu,
                    CAST((pv - 2 * (sv // n) * sv
                          + n * (sv // n) * (sv // n)) // n AS BIGINT)
                      AS vn
             FROM u),
       q0 AS (SELECT batch, d, mu, vn,
                     CAST(floor(sqrt(CAST(vn AS DOUBLE))) AS BIGINT) AS r
              FROM m)
       SELECT batch, CAST(d AS INTEGER) AS d, mu AS mu_e6,
              r + (CASE WHEN (r+1)*(r+1) <= vn THEN 1 ELSE 0 END)
                - (CASE WHEN r*r > vn THEN 1 ELSE 0 END) AS sd_e6
       FROM q0 ORDER BY batch, d""",
    // every label's covariance chain + 2 power steps, the max-norm
    // window-partitioned by label — the grouped form of pca_power
    "pca_by_label" ->
      """WITH e AS (SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS xe
           FROM embeddings),
       x AS (SELECT vec_id, label, unnest(range(0, len(xe))) AS d,
                    unnest(xe) AS v
             FROM e),
       mu AS (SELECT label, d, CAST(sum(v) // count(*) AS BIGINT) AS m
              FROM x GROUP BY label, d),
       c AS (SELECT vec_id, x.label, x.d, v - m AS cv
             FROM x JOIN mu ON x.label = mu.label AND x.d = mu.d),
       cell0 AS (SELECT a.label, a.d AS i, b.d AS j,
                        sum(CAST(a.cv AS HUGEINT) * b.cv) AS s
                 FROM c a JOIN c b
                   ON a.vec_id = b.vec_id AND b.d >= a.d
                 GROUP BY 1, 2, 3),
       cells AS (SELECT label, i, j, s FROM cell0
                 UNION ALL
                 SELECT label, j AS i, i AS j, s FROM cell0 WHERE j > i),
       v0 AS (SELECT label, d, CAST(1000000 AS HUGEINT) AS v FROM mu),
       w1 AS (SELECT cells.label, cells.i AS d, sum(cells.s * v0.v) AS w
              FROM cells JOIN v0
                ON cells.label = v0.label AND cells.j = v0.d
              GROUP BY 1, 2),
       v1 AS (SELECT label, d,
                     (w * 1000000)
                       // max(abs(w)) OVER (PARTITION BY label) AS v
              FROM w1),
       w2 AS (SELECT cells.label, cells.i AS d, sum(cells.s * v1.v) AS w
              FROM cells JOIN v1
                ON cells.label = v1.label AND cells.j = v1.d
              GROUP BY 1, 2),
       v2 AS (SELECT label, d,
                     (w * 1000000)
                       // max(abs(w)) OVER (PARTITION BY label) AS v
              FROM w2)
       SELECT iter, label, CAST(d AS INTEGER) AS d,
              CAST(v AS BIGINT) AS v_e6
       FROM (SELECT 1 AS iter, label, d, v FROM v1
             UNION ALL SELECT 2, label, d, v FROM v2)
       ORDER BY iter, label, d""",
    // the incremental contract checked the strong way: the oracle
    // recomputes the RAW sufficient statistics over the FULL corpus
    // (the delta-maintained engine stats must equal them exactly —
    // pure integer addition) and unrolls the same three power steps
    // over n·P − S·Sᵀ in HUGEINT
    "pca_incremental" ->
      """WITH e AS (SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS xe
           FROM embeddings),
       x AS (SELECT vec_id, unnest(range(0, len(xe))) AS d,
                    unnest(xe) AS v
             FROM e),
       st AS (SELECT d, sum(CAST(v AS HUGEINT)) AS s, count(*) AS n
              FROM x GROUP BY d),
       pr AS (SELECT a.d AS i, b.d AS j,
                     sum(CAST(a.v AS HUGEINT) * b.v) AS p
              FROM x a JOIN x b ON a.vec_id = b.vec_id
              GROUP BY 1, 2),
       cells AS (SELECT pr.i, pr.j,
                        (SELECT max(n) FROM st) * pr.p - si.s * sj.s AS s
                 FROM pr JOIN st si ON pr.i = si.d
                         JOIN st sj ON pr.j = sj.d),
       v0 AS (SELECT d, CAST(1000000 AS HUGEINT) AS v FROM st),
       w1 AS (SELECT cells.i AS d, sum(cells.s * v0.v) AS w
              FROM cells JOIN v0 ON cells.j = v0.d GROUP BY 1),
       v1 AS (SELECT d, (w * 1000000) // (SELECT max(abs(w)) FROM w1)
                   AS v FROM w1),
       w2 AS (SELECT cells.i AS d, sum(cells.s * v1.v) AS w
              FROM cells JOIN v1 ON cells.j = v1.d GROUP BY 1),
       v2 AS (SELECT d, (w * 1000000) // (SELECT max(abs(w)) FROM w2)
                   AS v FROM w2),
       w3 AS (SELECT cells.i AS d, sum(cells.s * v2.v) AS w
              FROM cells JOIN v2 ON cells.j = v2.d GROUP BY 1),
       v3 AS (SELECT d, (w * 1000000) // (SELECT max(abs(w)) FROM w3)
                   AS v FROM w3)
       SELECT iter, CAST(d AS INTEGER) AS d, CAST(v AS BIGINT) AS v_e6
       FROM (SELECT 1 AS iter, d, v FROM v1
             UNION ALL SELECT 2, d, v FROM v2
             UNION ALL SELECT 3, d, v FROM v3)
       ORDER BY iter, d""",
    // exact-isqrt z-score: double sqrt is within 1 of ⌊√x⌋ for
    // x ≤ 2⁵², so one ±1 correction lands both engines on the same
    // integer — no libm bet; the division is the verified trunc //
    "embed_standardize" ->
      """WITH e AS (SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS xe
           FROM embeddings),
       x AS (SELECT vec_id, unnest(range(0, len(xe))) AS d,
                    unnest(xe) AS v
             FROM e),
       mu AS (SELECT d, CAST(sum(v) // count(*) AS BIGINT) AS m,
                     count(*) AS n
              FROM x GROUP BY d),
       vr AS (SELECT x.d,
                     CAST(sum(CAST(v - m AS HUGEINT) * (v - m))
                          // max(n) AS BIGINT) AS vn
              FROM x JOIN mu USING (d) GROUP BY x.d),
       sd0 AS (SELECT d, CAST(floor(sqrt(CAST(vn AS DOUBLE)))
                              AS BIGINT) AS s, vn
               FROM vr),
       sd AS (SELECT d,
                     s + (CASE WHEN (s+1)*(s+1) <= vn THEN 1 ELSE 0 END)
                       - (CASE WHEN s*s > vn THEN 1 ELSE 0 END) AS sd
              FROM sd0)
       SELECT x.vec_id, CAST(x.d AS INTEGER) AS d,
              CAST(CASE WHEN sd = 0 THEN 0
                        ELSE ((v - m) * 1000000) // sd END
                   AS BIGINT) AS z_e6
       FROM x JOIN mu USING (d) JOIN sd USING (d)
       ORDER BY vec_id, d""",
    // the standardize chain + the diagonal-Mahalanobis score and
    // top-20 (score DESC, id tie-break)
    "embed_outliers" ->
      """WITH e AS (SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS xe
           FROM embeddings),
       x AS (SELECT vec_id, unnest(range(0, len(xe))) AS d,
                    unnest(xe) AS v
             FROM e),
       mu AS (SELECT d, CAST(sum(v) // count(*) AS BIGINT) AS m,
                     count(*) AS n
              FROM x GROUP BY d),
       vr AS (SELECT x.d,
                     CAST(sum(CAST(v - m AS HUGEINT) * (v - m))
                          // max(n) AS BIGINT) AS vn
              FROM x JOIN mu USING (d) GROUP BY x.d),
       sd0 AS (SELECT d, CAST(floor(sqrt(CAST(vn AS DOUBLE)))
                              AS BIGINT) AS s, vn
               FROM vr),
       sd AS (SELECT d,
                     s + (CASE WHEN (s+1)*(s+1) <= vn THEN 1 ELSE 0 END)
                       - (CASE WHEN s*s > vn THEN 1 ELSE 0 END) AS sd
              FROM sd0),
       z AS (SELECT x.vec_id,
                    CAST(CASE WHEN sd = 0 THEN 0
                              ELSE ((v - m) * 1000000) // sd END
                         AS BIGINT) AS z_e6
             FROM x JOIN mu USING (d) JOIN sd USING (d))
       SELECT vec_id, CAST(sum(z_e6 * z_e6) AS BIGINT) AS score
       FROM z GROUP BY vec_id
       ORDER BY score DESC, vec_id LIMIT 20""",
    // the covariance cells over the exact-isqrt sigmas: floor-sigma
    // BEFORE the product, numerator in HUGEINT (tops int64 at sf0.1)
    "corr_matrix" ->
      """WITH e AS (SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT)) AS xe
           FROM embeddings),
       x AS (SELECT vec_id, unnest(range(0, len(xe))) AS d,
                    unnest(xe) AS v
             FROM e),
       mu AS (SELECT d, CAST(sum(v) // count(*) AS BIGINT) AS m,
                     count(*) AS n
              FROM x GROUP BY d),
       c AS (SELECT vec_id, d, v - m AS cv FROM x JOIN mu USING (d)),
       vr AS (SELECT d,
                     CAST(sum(CAST(cv AS HUGEINT) * cv)
                          // count(*) AS BIGINT) AS vn
              FROM c GROUP BY d),
       sd0 AS (SELECT d, CAST(floor(sqrt(CAST(vn AS DOUBLE)))
                              AS BIGINT) AS s, vn
               FROM vr),
       sd AS (SELECT d,
                     s + (CASE WHEN (s+1)*(s+1) <= vn THEN 1 ELSE 0 END)
                       - (CASE WHEN s*s > vn THEN 1 ELSE 0 END) AS sd
              FROM sd0),
       cells AS (SELECT a.d AS i, b.d AS j,
                        sum(CAST(a.cv AS HUGEINT) * b.cv) AS cs
                 FROM c a JOIN c b
                   ON a.vec_id = b.vec_id AND b.d > a.d
                 GROUP BY 1, 2),
       nn AS (SELECT max(n) AS n FROM mu)
       SELECT CAST(cells.i AS INTEGER) AS i,
              CAST(cells.j AS INTEGER) AS j,
              CAST(CASE WHEN si.sd = 0 OR sj.sd = 0 THEN 0
                        ELSE (cs * 1000000)
                             // (CAST(si.sd AS HUGEINT) * sj.sd
                                * (SELECT n FROM nn)) END
                   AS BIGINT) AS corr_e6
       FROM cells JOIN sd si ON cells.i = si.d
                  JOIN sd sj ON cells.j = sj.d
       ORDER BY i, j""",
    // full LSH / IVF candidate-set + re-rank replays (promoted from
    // rows-only in r7 — the simhash/CMS/fingerprint precedent applied
    // to SRP sign bits and the sampled-codebook argmax)
    "ann_lsh" -> annLshOracleSql,
    "ann_ivf" -> annIvfOracleSql,
    // the IVF chain composed with the exact-top-1 chain: per query,
    // the true NN's rank inside the IVF top-3 (0 = missed)
    "ann_rank_eval" -> (annIvfChainFor("TRUE") + """,
       exq AS (SELECT vec_id AS qid, v AS qv FROM e
               WHERE vec_id % 20 = 0),
       exs AS (SELECT exq.qid, e.vec_id AS cid,
                 round(list_dot_product(qv, e.v)
                       / sqrt(list_dot_product(qv, qv)
                              * list_dot_product(e.v, e.v)), 4) AS xs
               FROM exq JOIN e ON exq.qid <> e.vec_id),
       exr AS (SELECT qid, cid,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY xs DESC, cid) AS xr
               FROM exs),
       ex1 AS (SELECT qid, cid FROM exr WHERE xr = 1)
       SELECT ex1.qid, ex1.cid AS true_cid,
              CAST(coalesce(r2.rnk, 0) AS INTEGER) AS ivf_rank,
              CAST(CASE WHEN r2.rnk IS NOT NULL THEN 1 ELSE 0 END
                   AS INTEGER) AS hit
       FROM ex1 LEFT JOIN (SELECT qid, cid, rnk FROM r WHERE rnk <= 3) r2
         ON ex1.qid = r2.qid AND ex1.cid = r2.cid
       ORDER BY ex1.qid"""),
    // the persisted partition-pruned index must agree with the
    // full-corpus replay on the served query, under the index's OWN
    // sizing rules: √n-derived stride and count-derived nprobe,
    // recomputed in SQL
    "ann_ivf_indexed" -> (annIvfChainFor("vec_id = 0",
      sqrtStrideSql, derivedNprobeSql) + """
       SELECT qid, cid, sim_r, rnk FROM r WHERE rnk <= 3
       ORDER BY qid, rnk"""),
    // the maintained (base + delta, compacted) index must serve the
    // SAME rows as the full-corpus replay; the consistency flag pins
    // set-equality against the rebuilt index
    "ann_ivf_delta" -> (annIvfChainFor("vec_id = 0",
      sqrtStrideSql, derivedNprobeSql) + """
       SELECT qid, cid, sim_r, rnk,
              CAST(1 AS INTEGER) AS delta_consistent
       FROM r WHERE rnk <= 3
       ORDER BY qid, rnk"""),
    // the TRAINED variant, promoted r7: the Lloyd loop itself unrolls
    // into SQL because cell sums are e12 int64 (order-independent)
    "ann_ivf_trained" -> annIvfTrainedOracleSql,
    // same machinery, promoted r7: trained assignment + greedy prune
    "semantic_dedup" -> semanticDedupOracleSql,
    // 8 sub-codebook trainings + argmax codes, cell-for-cell
    "pq_encode" -> pqEncodeOracleSql,
    // the IVFADC+R pipeline end-to-end (16 subspace trainings,
    // reconstruction, ADC shortlist, exact re-rank)
    "ann_ivfpq" -> annIvfpqOracleSql,
    // the PERSISTED IVF-PQ index serving one query must agree with
    // the same IVFADC+R replay under the index's own sizing rules
    // (√n stride, derived nprobe — both recomputed in SQL)
    "ann_ivfpq_indexed" -> annIvfpqOracleSqlFor("vec_id = 0",
      sqrtStrideSql, derivedNprobeSql),
    // the maintained (base + encoded delta, compacted) CODE index
    // must serve the SAME rows as the full replay; the consistency
    // flag pins set-equality against the rebuilt index
    // the IVFADC+R replay with fit-once codebooks from the FULL
    // corpus but lists and both rank stages over SURVIVORS only —
    // the PQ twin of ann_index_forget's oracle rule
    "ann_ivfpq_forget" -> annIvfpqOracleSqlFor("vec_id = 0",
      sqrtStrideSql, derivedNprobeSql,
      survivorWhere = "vec_id % 13 <> 5"),
    "ann_ivfpq_delta" -> annIvfpqOracleSqlFor("vec_id = 0",
      sqrtStrideSql, derivedNprobeSql,
      extraCols = ", CAST(1 AS INTEGER) AS delta_consistent"),
    // the batch fleet mode over the same persisted code index: the
    // full IVFADC+R replay across ALL queries under the √n sizing
    "ann_ivfpq_batch" -> annIvfpqOracleSqlFor("TRUE",
      sqrtStrideSql, derivedNprobeSql),
    // SQ-ADC replayed END TO END: per-dim [min,max] stats, the affine
    // int8 code, the float-rounded reconstruction, the ADC top-32
    // shortlist, and the exact re-rank — all fixed-order double math
    // (no trained state), so the VALUES hash-compare where PQ needs
    // Lloyd unrolls
    "ann_sq_topk" -> annSqTopkOracleSql,
    // the fully-replayable persisted index: stats, codes, √n list
    // assignment, ADC, and re-rank ALL recomputed — no trained state
    "ann_ivfsq_indexed" -> annIvfsqIndexedOracleSql(),
    // the full SQ lifecycle replay over SURVIVORS under fit-once
    // stats/quantizer — the forgotten code index must serve exactly
    // the rebuild-from-survivors answer
    "ann_ivfsq_forget" -> annIvfsqIndexedOracleSql(
      corpusWhere = "vec_id % 13 <> 5"),
    "ann_ivfsq_delta" -> annIvfsqIndexedOracleSql(
      extraCols = ", CAST(1 AS INTEGER) AS delta_consistent"),
    // the batch fleet mode on the fully-replayable index: the whole
    // lifecycle recomputed across ALL queries
    "ann_ivfsq_batch" -> annIvfsqIndexedOracleSql(
      queryPred = "vec_id % 20 = 0"),
    "ann_sq_recall" ->
      """SELECT count(*) AS n_queries,
                CAST(90 AS INTEGER) AS recall_floor_pct,
                CAST(1 AS INTEGER) AS floor_met
         FROM embeddings WHERE vec_id % 20 = 0""",
    // the full HRW argmax replayed: per-(doc, shard) SplitMix64 scores
    // via the same UBIGINT split-multiply chain as cms_freq, argmax by
    // (score DESC, s ASC) row_number for n=8 and n=9, and the
    // move-iff-new-shard-wins invariant pinned per row. Salt literals
    // are generated from Kernels.mix64 at map-build time — one source
    // of truth with the engine kernel.
    "shard_assign" -> {
      val salts = (0 to 8).map { sVal =>
        s"($sVal, ${java.lang.Long.toUnsignedString(
          graft.functions.Kernels.mix64(42L + sVal))}::UBIGINT)"
      }.mkString(", ")
      s"""WITH sc AS (
           SELECT doc_id, s.s AS s,
                  xor(CAST(doc_id AS UBIGINT), s.salt) AS u
           FROM documents CROSS JOIN (VALUES $salts) AS s(s, salt)),
         m1 AS (SELECT doc_id, s,
                  CAST((CAST(u AS HUGEINT) + 11400714819323198485)
                       % 18446744073709551616 AS UBIGINT) AS z1 FROM sc),
         m2 AS (SELECT doc_id, s,
                  CAST(((CAST(xor(z1, z1 >> 30) % 4294967296 AS HUGEINT) * 13787848793156543929) + (((CAST(xor(z1, z1 >> 30) // 4294967296 AS HUGEINT) * 484763065) % 4294967296) * 4294967296)) % 18446744073709551616 AS UBIGINT) AS z2 FROM m1),
         m3 AS (SELECT doc_id, s,
                  CAST(((CAST(xor(z2, z2 >> 27) % 4294967296 AS HUGEINT) * 10723151780598845931) + (((CAST(xor(z2, z2 >> 27) // 4294967296 AS HUGEINT) * 321982955) % 4294967296) * 4294967296)) % 18446744073709551616 AS UBIGINT) AS z3 FROM m2),
         h AS (SELECT doc_id, s, xor(z3, z3 >> 31) AS h FROM m3),
         a8 AS (SELECT doc_id, s FROM (
                  SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
                    ORDER BY h DESC, s ASC) AS rn FROM h WHERE s < 8)
                WHERE rn = 1),
         a9 AS (SELECT doc_id, s FROM (
                  SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id
                    ORDER BY h DESC, s ASC) AS rn FROM h)
                WHERE rn = 1)
         SELECT a8.doc_id AS doc_id,
           CAST(a8.s AS INTEGER) AS shard8,
           CAST(a9.s AS INTEGER) AS shard9,
           CAST(a8.s <> a9.s AS INTEGER) AS moved,
           CAST((a8.s = a9.s) OR (a9.s = 8) AS INTEGER) AS guarantee_ok
         FROM a8 JOIN a9 ON a8.doc_id = a9.doc_id
         ORDER BY doc_id"""
    },
    // the key chain, signed reinterpretation, and per-epoch ranking all
    // replayed; the per-epoch salts mix64(42+e) are generated from the
    // kernel at map-build time (same single-source-of-truth discipline
    // as shard_assign)
    "epoch_shuffle" -> {
      val salts = (1 to 2).map { e =>
        s"SELECT $e AS epoch, ${java.lang.Long.toUnsignedString(
          graft.functions.Kernels.mix64(42L + e))}::UBIGINT AS salt"
      }.mkString(" UNION ALL ")
      s"""WITH ep AS ($salts),
         sc AS (SELECT ep.epoch, d.doc_id,
                  xor(CAST(d.doc_id AS UBIGINT), ep.salt) AS u
                FROM documents d CROSS JOIN ep),
         m1 AS (SELECT epoch, doc_id,
                  CAST((CAST(u AS HUGEINT) + 11400714819323198485)
                       % 18446744073709551616 AS UBIGINT) AS z1 FROM sc),
         m2 AS (SELECT epoch, doc_id,
                  CAST(((CAST(xor(z1, z1 >> 30) % 4294967296 AS HUGEINT) * 13787848793156543929) + (((CAST(xor(z1, z1 >> 30) // 4294967296 AS HUGEINT) * 484763065) % 4294967296) * 4294967296)) % 18446744073709551616 AS UBIGINT) AS z2 FROM m1),
         m3 AS (SELECT epoch, doc_id,
                  CAST(((CAST(xor(z2, z2 >> 27) % 4294967296 AS HUGEINT) * 10723151780598845931) + (((CAST(xor(z2, z2 >> 27) // 4294967296 AS HUGEINT) * 321982955) % 4294967296) * 4294967296)) % 18446744073709551616 AS UBIGINT) AS z3 FROM m2),
         h AS (SELECT epoch, doc_id, xor(z3, z3 >> 31) AS hv FROM m3),
         sk AS (SELECT epoch, doc_id,
                  CAST(CAST(hv AS HUGEINT)
                    - (CASE WHEN hv >= 9223372036854775808::UBIGINT
                       THEN 18446744073709551616::HUGEINT
                       ELSE 0::HUGEINT END) AS BIGINT) AS skey FROM h),
         r AS (SELECT epoch, doc_id, skey,
                 row_number() OVER (PARTITION BY epoch
                   ORDER BY skey, doc_id) AS rn FROM sk)
         SELECT epoch, CAST(rn AS INTEGER) AS rank, doc_id, skey
         FROM r WHERE rn <= 20 ORDER BY epoch, rank"""
    },
    // same replayed fingerprint set, closed into shared-fp pair counts
    // with the maxDocsPerFp=50 hot-fingerprint prune
    "fingerprint_pairs" ->
      """WITH d AS (
           SELECT doc_id, text, length(text) AS len FROM documents),
         pos AS (
           SELECT doc_id, text,
                  CASE WHEN len >= 8 THEN 8 ELSE len END AS m,
                  unnest(range(1, CASE WHEN len >= 8 THEN len - 7 ELSE 1 END + 1)) AS i,
                  CASE WHEN len >= 8 THEN len - 7 ELSE 1 END AS nk
           FROM d),
         f AS (
           SELECT doc_id, i, nk,
                  list_reduce(
                    list_prepend(14695981039346656037::UBIGINT,
                      list_transform(range(i, i + m), j -> CAST(ord(text[j]) AS UBIGINT))),
                    (acc, c) -> CAST((CAST(xor(acc, c) AS HUGEINT) * 1099511628211)
                                     % 18446744073709551616 AS UBIGINT)) AS f0
           FROM pos),
         m1 AS (SELECT doc_id, i, nk,
                  CAST((CAST(f0 AS HUGEINT) + 11400714819323198485)
                       % 18446744073709551616 AS UBIGINT) AS z1 FROM f),
         m2 AS (SELECT doc_id, i, nk,
                  CAST(((CAST(xor(z1, z1 >> 30) % 4294967296 AS HUGEINT) * 13787848793156543929) + (((CAST(xor(z1, z1 >> 30) // 4294967296 AS HUGEINT) * 484763065) % 4294967296) * 4294967296)) % 18446744073709551616 AS UBIGINT) AS z2 FROM m1),
         m3 AS (SELECT doc_id, i, nk,
                  CAST(((CAST(xor(z2, z2 >> 27) % 4294967296 AS HUGEINT) * 10723151780598845931) + (((CAST(xor(z2, z2 >> 27) // 4294967296 AS HUGEINT) * 321982955) % 4294967296) * 4294967296)) % 18446744073709551616 AS UBIGINT) AS z3 FROM m2),
         kh AS (SELECT doc_id, i, nk,
                  CAST(CAST(xor(z3, z3 >> 31) AS HUGEINT)
                       - CASE WHEN xor(z3, z3 >> 31) >= 9223372036854775808::UBIGINT
                              THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
                       AS BIGINT) AS h
                FROM m3),
         wmin AS (
           SELECT doc_id, i, nk,
                  min(h) OVER (PARTITION BY doc_id ORDER BY i
                               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
           FROM kh),
         fps AS (
           SELECT DISTINCT doc_id AS id, fp
           FROM wmin
           WHERE i <= CASE WHEN nk >= 4 THEN nk - 3 ELSE 1 END),
         rare AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
         pr AS (SELECT id, fp FROM fps JOIN rare USING (fp))
         SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
         FROM pr a JOIN pr b ON a.fp = b.fp AND a.id < b.id
         GROUP BY 1, 2 HAVING count(*) >= 5
         ORDER BY id_a, id_b""",
    // the SimHash SIGNATURE KERNELS replayed bit-for-bit in SQL (FNV-1a
    // token fold + SplitMix64 finalizer in UBIGINT; u64 multiplies run
    // as split lo/hi mod-2^64 since the full product overflows INT128;
    // banding is complete for Hamming <= 3, so all-pairs over the
    // replayed signatures IS the engine's pair set) — a kernel value
    // check in the dedup_minhash_recall/BPE-replay tradition
    "dedup_simhash" ->
      """WITH tk AS (
           SELECT doc_id,
                  unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
           FROM documents),
         f AS (
           SELECT doc_id,
                  list_reduce(
                    list_prepend(14695981039346656037::UBIGINT,
                      list_transform(range(1, length(tok) + 1),
                                     i -> CAST(ord(tok[i]) AS UBIGINT))),
                    (acc, c) -> CAST((CAST(xor(acc, c) AS HUGEINT) * 1099511628211)
                                     % 18446744073709551616 AS UBIGINT)) AS f0
           FROM tk),
         m1 AS (SELECT doc_id,
                  CAST((CAST(f0 AS HUGEINT) + 11400714819323198485)
                       % 18446744073709551616 AS UBIGINT) AS z1 FROM f),
         m2 AS (SELECT doc_id,
                  CAST(((CAST(xor(z1, z1 >> 30) % 4294967296 AS HUGEINT) * 13787848793156543929) + (((CAST(xor(z1, z1 >> 30) // 4294967296 AS HUGEINT) * 484763065) % 4294967296) * 4294967296)) % 18446744073709551616 AS UBIGINT) AS z2 FROM m1),
         m3 AS (SELECT doc_id,
                  CAST(((CAST(xor(z2, z2 >> 27) % 4294967296 AS HUGEINT) * 10723151780598845931) + (((CAST(xor(z2, z2 >> 27) // 4294967296 AS HUGEINT) * 321982955) % 4294967296) * 4294967296)) % 18446744073709551616 AS UBIGINT) AS z3 FROM m2),
         th AS (SELECT doc_id, xor(z3, z3 >> 31) AS h FROM m3),
         bits AS (
           SELECT doc_id, bb.b AS b,
                  sum(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
           FROM th, (SELECT unnest(range(0, 64)) AS b) bb
           GROUP BY doc_id, bb.b),
         sig0 AS (
           SELECT doc_id,
                  CAST(CAST(sum(CASE WHEN cnt > 0
                                     THEN CAST(1::UBIGINT << b AS HUGEINT)
                                     ELSE 0::HUGEINT END) AS HUGEINT)
                       % 18446744073709551616 AS UBIGINT) AS sig
           FROM bits GROUP BY doc_id),
         sig AS (
           SELECT d.doc_id AS id, coalesce(s.sig, 0::UBIGINT) AS sig
           FROM (SELECT DISTINCT doc_id FROM documents) d
           LEFT JOIN sig0 s USING (doc_id))
         SELECT a.id AS id_a, b.id AS id_b,
                CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         FROM sig a JOIN sig b ON b.id > a.id
         WHERE bit_count(xor(a.sig, b.sig)) <= 3
         ORDER BY id_a, id_b""",
    // the verified-LSH pair set WITH its exact jaccard values — equals
    // DuckDB's all-pairs word-trigram recompute on this corpus (see
    // dedupMinhash scaladoc; integer-count division is IEEE-identical
    // in both engines, so even the rounded ratio hash-matches)
    "dedup_minhash" -> minhashAllPairsSql,
    // the SAME recompute: salted candidate generation must land on the
    // byte-identical verified pair set (result-invariance driver-pinned)
    "dedup_salted" -> minhashAllPairsSql,
    // dedup_minhash's recompute + the maintenance decomposition: a
    // pair belongs to the delta leg iff either endpoint is in the
    // newest-10% increment (doc_id % 10 = 9)
    "minhash_incremental" ->
      """WITH tk AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              x -> len(x) > 0) AS t
           FROM documents),
         g AS (
           SELECT doc_id AS id,
                  CASE WHEN len(t) >= 3
                       THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                           for i in range(1, len(t) - 1)])
                       ELSE [array_to_string(t, ' ')] END AS gs
           FROM tk)
         SELECT a.id AS id_a, b.id AS id_b,
                round(len(list_intersect(a.gs, b.gs))::DOUBLE
                      / len(list_distinct(list_concat(a.gs, b.gs))), 4) AS jaccard,
                CASE WHEN a.id % 10 = 9 OR b.id % 10 = 9
                     THEN 'delta' ELSE 'base' END AS src
         FROM g a JOIN g b ON b.id > a.id
         WHERE len(list_intersect(a.gs, b.gs))::DOUBLE
               / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.7
         ORDER BY id_a, id_b""",
    // all-pairs exact word-trigram Jaccard ≥ 0.7 closed into min-label
    // components — equals the engine's verified-LSH pair set on this
    // corpus (see dedupClusters scaladoc for the recall argument; the
    // tokenizer twin is Kernels.tokenHashes' ASCII-alnum-run split)
    "dedup_clusters" -> lshClusterLabelsOracleSql,
    // maintenance ≡ rebuild: the maintained labels must equal the
    // full-corpus closure — the cc_delta discipline on the LSH graph
    "cc_delta_lsh" -> lshClusterLabelsOracleSql,
    // the full exact closure over SURVIVORS — label maintenance under
    // deletion must be hash-indistinguishable from a rebuild, splits
    // and root re-elections included
    "cc_forget" ->
      ("WITH RECURSIVE " + lshLabelsChainSql("", "doc_id % 13 <> 5") +
        "\n         SELECT id, cluster_id FROM lab ORDER BY id"),
    // r13 rebase: the drop set is the maintained-LSH label family, so
    // the oracle is the exact all-pairs >=0.7 closure from raw text
    // (the dedup_canonical_quality discipline) — the maintained
    // survivors must equal the from-scratch semantics
    "dedup_canonical" ->
      ("WITH RECURSIVE " + lshLabelsChainSql("", "TRUE") + """
         SELECT d.doc_id, d.lang, d.n_chars
         FROM documents d
         WHERE d.doc_id NOT IN (SELECT id FROM lab WHERE id <> cluster_id)
         ORDER BY d.doc_id"""),
    // the same >=0.7 closure drives the drop set; token counts and
    // both per-source rollups replayed, kept ratio in the identical
    // truncation order
    "dedup_impact" ->
      (s"""WITH RECURSIVE ${lshLabelsChainSql("", "TRUE")},
         tok AS (SELECT doc_id, source,
                  CAST(len(list_filter(
                    regexp_split_to_array(lower(text), '\\W+'),
                    t -> len(t) > 0)) AS BIGINT) AS ntok
                FROM documents),
         dr AS (SELECT id FROM lab WHERE id <> cluster_id),
         b AS (SELECT source, count(*) AS n_docs,
                 CAST(sum(ntok) AS BIGINT) AS n_tokens
               FROM tok GROUP BY 1),
         k AS (SELECT source, count(*) AS kept_docs,
                 CAST(sum(ntok) AS BIGINT) AS kept_tokens
               FROM tok WHERE doc_id NOT IN (SELECT id FROM dr)
               GROUP BY 1)
         SELECT b.source, b.n_docs, b.n_tokens,
                CAST(coalesce(k.kept_docs, 0) AS BIGINT) AS kept_docs,
                CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
                CAST(CASE WHEN b.n_tokens > 0
                     THEN (coalesce(k.kept_tokens, 0) * 1000000)
                          // b.n_tokens
                     ELSE 0 END AS BIGINT) AS kept_e6
         FROM b LEFT JOIN k ON b.source = k.source
         ORDER BY b.source"""),
    "dedup_exact" ->
      """SELECT md5(substring(text, 1, 40)) AS key_hash,
         min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY keep_id""",
    "decontaminate" ->
      """WITH tk AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              x -> len(x) > 0) AS t
           FROM documents),
         sh AS (
           SELECT doc_id,
                  list_distinct([array_to_string(t[i:i+2], ' ')
                                 for i in range(1, len(t) - 1)]) AS gs
           FROM tk WHERE len(t) >= 3),
         bg AS (SELECT DISTINCT unnest(gs) AS g FROM sh WHERE doc_id % 20 = 0),
         cg AS (SELECT doc_id, unnest(gs) AS g FROM sh WHERE doc_id % 20 != 0),
         c AS (SELECT doc_id, count(*) AS n_shared
               FROM cg JOIN bg USING (g) GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(coalesce(c.n_shared, 0) AS BIGINT) AS n_shared,
                CAST(CASE WHEN coalesce(c.n_shared, 0) >= 5 THEN 1 ELSE 0 END
                     AS INTEGER) AS contaminated
         FROM (SELECT doc_id FROM sh WHERE doc_id % 20 != 0) d
         LEFT JOIN c USING (doc_id)
         ORDER BY d.doc_id""",
    "ngram_jaccard" ->
      """WITH g AS (
           SELECT doc_id AS id,
                  list_distinct([substring(text, i, 3)
                                 for i in range(1, greatest(length(text) - 2, 1) + 1)]) AS gs
           FROM documents)
         SELECT a.id AS id_a, b.id AS id_b,
                round(len(list_intersect(a.gs, b.gs))::DOUBLE
                      / len(list_distinct(list_concat(a.gs, b.gs))), 4) AS jaccard
         FROM g a JOIN g b ON b.id > a.id AND b.id <= a.id + 20
         WHERE len(list_intersect(a.gs, b.gs))::DOUBLE
               / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.5
         ORDER BY id_a, id_b""",
    // the exact all-pairs ≥1/2 word-5-shingle replay — the LSH route
    // must reproduce the exact pair set value-for-value (candidate
    // completeness at the banding's operating point is the claim
    // under check; the parity bet on hashed-vs-string shingles is
    // dedup_minhash's)
    "ppjoin_lsh" ->
      """WITH tk AS (
           SELECT doc_id AS id,
                  list_filter(regexp_split_to_array(lower(text), '\W+'),
                              x -> len(x) > 0) AS t
           FROM documents),
         g AS (
           SELECT id,
                  list_distinct([array_to_string(t[i:i+4], ' ')
                                 for i in range(1, len(t) - 3)]) AS gs
           FROM tk WHERE len(t) >= 5),
         p AS (
           SELECT a.id AS id_a, b.id AS id_b,
                  len(list_intersect(a.gs, b.gs))::DOUBLE
                  / len(list_distinct(list_concat(a.gs, b.gs))) AS jac
           FROM g a JOIN g b ON b.id > a.id)
         SELECT id_a, id_b, round(jac, 4) AS jaccard
         FROM p WHERE jac >= 0.5 ORDER BY id_a, id_b""",
    // the full AllPairs/PPJoin replay: distinct word-3-shingle sets,
    // global (df, shingle) ranks, s − ⌈s/2⌉ + 1 prefixes, the length-filtered
    // candidate join, and the exact-integer verification — candidate
    // COMPLETENESS (= brute force) is DedupSpec's property test; the
    // oracle proves the algorithm replays engine-for-engine
    "ppjoin_pairs" ->
      """WITH tk AS (
           SELECT doc_id AS id,
                  list_filter(regexp_split_to_array(lower(text), '\W+'),
                              x -> len(x) > 0) AS t
           FROM documents),
         tok AS (
           SELECT id,
                  unnest(list_distinct([array_to_string(t[i:i+4], ' ')
                          for i in range(1, len(t) - 3)])) AS token
           FROM tk WHERE len(t) >= 5),
         sz AS (SELECT id, count(*) AS s FROM tok GROUP BY id),
         dfq AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
         ord AS (SELECT tok.id, tok.token, sz.s,
                   row_number() OVER (PARTITION BY tok.id
                        ORDER BY dfq.df, tok.token) AS rnk
                 FROM tok JOIN dfq USING (token) JOIN sz USING (id)),
         pre AS (SELECT id, token, s, rnk FROM ord
                 WHERE rnk <= s - ((1 * s + 1) // 2) + 1),
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                  FROM pre a JOIN pre b ON a.token = b.token
                    AND b.id > a.id
                    AND b.s * 2 >= a.s * 1 AND a.s * 2 >= b.s * 1
                    AND 1 + least(a.s - a.rnk, b.s - b.rnk)
                        >= (1 * (a.s + b.s) + 2) // 3),
         inter AS (SELECT c.id_a, c.id_b, count(*) AS i
                   FROM cand c JOIN tok a ON a.id = c.id_a
                               JOIN tok b ON b.id = c.id_b
                                         AND b.token = a.token
                   GROUP BY c.id_a, c.id_b)
         SELECT inter.id_a, inter.id_b,
                round(i::DOUBLE / (sa.s + sb.s - i), 4) AS jaccard
         FROM inter JOIN sz sa ON sa.id = inter.id_a
                    JOIN sz sb ON sb.id = inter.id_b
         WHERE i * 2 >= 1 * (sa.s + sb.s - i)
         ORDER BY inter.id_a, inter.id_b""",
    // the greedy MMR chain unrolled: relevance top-20, all pairwise
    // sims, then 5 argmax steps each excluding the selected set and
    // maxing sim against it — every quantity the same sim_e4 integer
    // the engine collects
    "mmr_rerank" -> mmrOracleSql,
    // the stored index's per-list occupancy vs a from-scratch
    // assignment recompute (√n stride + argmax chain) — content
    // reconciliation through the build → delta lifecycle
    "ann_index_manifest" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         cb AS (SELECT vec_id AS centroid_id, v AS cv FROM e
                WHERE vec_id % $sqrtStrideSql = 0
                ORDER BY centroid_id LIMIT 16384),
         sim AS (SELECT e.vec_id, cb.centroid_id,
                   list_dot_product(e.v, cb.cv)
                   / sqrt(list_dot_product(e.v, e.v)
                          * list_dot_product(cb.cv, cb.cv)) AS s
                 FROM e CROSS JOIN cb),
         rk AS (SELECT vec_id, centroid_id, s,
                  row_number() OVER (PARTITION BY vec_id
                       ORDER BY s DESC, centroid_id) AS rn
                FROM sim WHERE NOT isnan(s)),
         asg AS (SELECT vec_id AS cid, centroid_id FROM rk WHERE rn = 1)
         SELECT centroid_id, count(*) AS n_rows
         FROM asg GROUP BY 1 ORDER BY 1""",
    // the full MaxSim replay: all 16 sub-pair cosines over double
    // slices, the four maxima and their left-assoc sum (identical
    // IEEE on both engines), 4-dp round, id tie-breaks
    "maxsim_rank" -> maxsimOracleSql,
    // the coverage-recall tuning curve replayed end to end
    "maxsim_budget_curve" -> maxsimBudgetCurveOracleSql,
    // the filtered search replayed end to end: the label rides the
    // candidate equi-join (never a post-filter of an unfiltered
    // top-k), same sqrt-n stride / half-coverage sizing
    "ann_filtered" -> annFilteredOracleFor("TRUE"),
    // same chain restricted to the one storage-served query — the
    // label-partitioned layout must serve identical results
    "ann_filtered_indexed" -> annFilteredOracleFor("vec_id = 0"),
    // fleet storage serving ≡ the in-plan operator, row for row
    "ann_filtered_batch" -> annFilteredOracleFor("TRUE"),
    // the maintained (forgotten) labeled index must serve the in-plan
    // chain over SURVIVORS — deletion is physical, not a result filter
    "ann_filtered_forget" ->
      annFilteredOracleFor("TRUE", corpusWhere = "vec_id % 13 <> 5"),
    // the filtered-recall gate pin (full coverage + floor met) at the
    // r13 occupancy-aware budget's raised floor
    "ann_filtered_recall" ->
      """SELECT count(*) AS n_queries,
                CAST(80 AS INTEGER) AS recall_floor_pct,
                CAST(1 AS INTEGER) AS floor_met
         FROM embeddings WHERE vec_id % 20 = 0""",
    // the recall-gate pin (the ann_ivf_recall pattern): full query
    // coverage + the 80% floor met — both sides deterministic (√n
    // sub-space codebooks, half-coverage probes, id tie-breaks)
    "maxsim_ivf" ->
      """SELECT count(*) AS n_queries,
                CAST(80 AS INTEGER) AS recall_floor_pct,
                CAST(1 AS INTEGER) AS floor_met
         FROM embeddings WHERE vec_id % 20 = 0""",
    // the clustered-corpus certifications replayed END TO END —
    // corpus generation, codebook, assignment, nlist/8 probes,
    // re-rank, exact baseline, and the integer recall/floor
    // arithmetic are all value-checked (not a gate-row pin)
    "ann_ivf_clustered" -> annIvfClusteredOracleSql,
    "maxsim_ivf_clustered" -> maxsimIvfClusteredOracleSql,
    "ann_filtered_clustered" -> annFilteredClusteredOracleSql,
    // labeled-index maintenance ≡ rebuild: the maintained instance's
    // fleet must equal the full-corpus in-plan chain, flag pinned
    "ann_filtered_delta" -> annFilteredOracleFor("TRUE",
      extraCols = ", CAST(1 AS INTEGER) AS delta_consistent"),
    // the one-pass threshold sweep replayed: the windowed char-3-gram
    // Jaccard pair set once, each curve point a filter + two
    // aggregates, zeros preserved via the left joins
    "dedup_threshold_curve" ->
      """WITH g AS (
           SELECT doc_id AS id,
                  list_distinct([substring(text, i, 3)
                                 for i in range(1, greatest(length(text) - 2, 1) + 1)]) AS gs
           FROM documents),
         p AS (
           SELECT a.id AS id_a, b.id AS id_b,
                  len(list_intersect(a.gs, b.gs))::DOUBLE
                  / len(list_distinct(list_concat(a.gs, b.gs))) AS jac
           FROM g a JOIN g b ON b.id > a.id AND b.id <= a.id + 20),
         thr AS (SELECT unnest([30, 40, 50, 60, 70, 80]) AS thr_e2),
         hit AS (SELECT thr.thr_e2, p.id_a, p.id_b
                 FROM p JOIN thr ON p.jac >= CAST(thr.thr_e2 AS DOUBLE) / 100.0),
         np AS (SELECT thr_e2, count(*) AS n_pairs FROM hit GROUP BY 1),
         nd AS (SELECT thr_e2, count(*) AS n_docs FROM (
                  SELECT DISTINCT thr_e2, unnest([id_a, id_b]) AS id
                  FROM hit) z GROUP BY 1)
         SELECT thr.thr_e2,
                CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
                CAST(coalesce(nd.n_docs, 0) AS BIGINT) AS n_docs
         FROM thr LEFT JOIN np USING (thr_e2)
                  LEFT JOIN nd USING (thr_e2)
         ORDER BY thr_e2""",
    // the matryoshka curve replayed end to end: prefix-slice sims at
    // 4 dp with id tie-breaks, per-point top-3 windows, exact-integer
    // recall — same arithmetic as ann_recall_curve
    "embed_matryoshka" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id % 20 = 0),
         c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
         s AS (SELECT qid, cid,
                 round(list_dot_product(qv[1:16], cv[1:16])
                       / sqrt(list_dot_product(qv[1:16], qv[1:16])
                              * list_dot_product(cv[1:16], cv[1:16])), 4)
                   AS sim_16,
                 round(list_dot_product(qv[1:32], cv[1:32])
                       / sqrt(list_dot_product(qv[1:32], qv[1:32])
                              * list_dot_product(cv[1:32], cv[1:32])), 4)
                   AS sim_32,
                 round(list_dot_product(qv, cv)
                       / sqrt(list_dot_product(qv, qv)
                              * list_dot_product(cv, cv)), 4) AS sim_64
               FROM q JOIN c ON qid <> cid),
         ex AS (SELECT qid, cid FROM (
                  SELECT qid, cid, row_number() OVER (PARTITION BY qid
                       ORDER BY sim_64 DESC, cid) AS rnk FROM s) z
                WHERE rnk <= 3),
         d16 AS (SELECT qid, cid FROM (
                  SELECT qid, cid, row_number() OVER (PARTITION BY qid
                       ORDER BY sim_16 DESC, cid) AS rnk FROM s) z
                WHERE rnk <= 3),
         d32 AS (SELECT qid, cid FROM (
                  SELECT qid, cid, row_number() OVER (PARTITION BY qid
                       ORDER BY sim_32 DESC, cid) AS rnk FROM s) z
                WHERE rnk <= 3),
         tot AS (SELECT count(*) AS n_exact FROM ex),
         h AS (SELECT 16 AS dims, count(*) AS hits
                 FROM d16 JOIN ex USING (qid, cid)
               UNION ALL
               SELECT 32, count(*) FROM d32 JOIN ex USING (qid, cid)
               UNION ALL
               SELECT 64, count(*) FROM ex)
         SELECT CAST(h.dims AS INTEGER) AS dims,
                CAST(tot.n_exact AS BIGINT) AS n_exact,
                CAST(h.hits AS BIGINT) AS hits,
                CAST((h.hits * 1000000) // tot.n_exact AS BIGINT)
                  AS recall_e6
         FROM h CROSS JOIN tot ORDER BY dims""",
    // the WHOLE funnel replayed value-for-value: prefix codebook at
    // the sqrt-n stride, 16-d assignment + half-coverage probes, the
    // prefix top-32 shortlist, the full-dim exact re-rank of ONLY the
    // shortlist, the exact full-dim top-3 baseline, and the integer
    // recall arithmetic
    "ann_mrl_funnel" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         ep AS (SELECT vec_id, v[1:16] AS p FROM e),
         cb AS (SELECT vec_id AS centroid_id, p AS cv FROM ep
                WHERE vec_id % $sqrtStrideSql = 0
                ORDER BY centroid_id LIMIT 16384),
         sim AS (SELECT ep.vec_id, cb.centroid_id,
                   list_dot_product(ep.p, cb.cv)
                   / sqrt(list_dot_product(ep.p, ep.p)
                          * list_dot_product(cb.cv, cb.cv)) AS s
                 FROM ep CROSS JOIN cb),
         rk AS (SELECT vec_id, centroid_id, s,
                  row_number() OVER (PARTITION BY vec_id
                       ORDER BY s DESC, centroid_id) AS rn
                FROM sim WHERE NOT isnan(s)),
         asg AS (SELECT vec_id AS cid, centroid_id FROM rk WHERE rn = 1),
         np AS (SELECT GREATEST(7, (count(*) + 1) // 2) AS v FROM cb),
         pb AS (SELECT vec_id AS qid, centroid_id FROM rk
                WHERE rn <= (SELECT v FROM np) AND vec_id % 20 = 0),
         cand AS (SELECT pb.qid, asg.cid
                  FROM pb JOIN asg USING (centroid_id)
                  WHERE pb.qid <> asg.cid),
         s1 AS (SELECT cand.qid, cand.cid,
                  round(list_dot_product(qp.p, cp.p)
                        / sqrt(list_dot_product(qp.p, qp.p)
                               * list_dot_product(cp.p, cp.p)), 4)
                    AS psim
                FROM cand JOIN ep qp ON cand.qid = qp.vec_id
                          JOIN ep cp ON cand.cid = cp.vec_id),
         sl AS (SELECT qid, cid FROM (
                  SELECT qid, cid, row_number() OVER (PARTITION BY qid
                       ORDER BY psim DESC, cid) AS rnk FROM s1) z
                WHERE rnk <= 32),
         rr AS (SELECT sl.qid, sl.cid,
                  round(list_dot_product(q.v, c.v)
                        / sqrt(list_dot_product(q.v, q.v)
                               * list_dot_product(c.v, c.v)), 4) AS sim_r
                FROM sl JOIN e q ON sl.qid = q.vec_id
                        JOIN e c ON sl.cid = c.vec_id),
         top AS (SELECT qid, cid FROM (
                   SELECT qid, cid, row_number() OVER (PARTITION BY qid
                        ORDER BY sim_r DESC, cid) AS rnk FROM rr) z
                 WHERE rnk <= 3),
         ex AS (SELECT qid, cid FROM (
                  SELECT q.vec_id AS qid, c.vec_id AS cid,
                    row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY round(list_dot_product(q.v, c.v)
                                  / sqrt(list_dot_product(q.v, q.v)
                                         * list_dot_product(c.v, c.v)), 4)
                           DESC, c.vec_id) AS rnk
                  FROM (SELECT vec_id, v FROM e WHERE vec_id % 20 = 0) q
                  JOIN e c ON q.vec_id <> c.vec_id) z
                WHERE rnk <= 3),
         tot AS (SELECT count(*) AS n_exact FROM ex),
         h AS (SELECT count(*) AS hits FROM top JOIN ex USING (qid, cid))
         SELECT CAST(32 AS INTEGER) AS short_k,
                CAST(tot.n_exact AS BIGINT) AS n_exact,
                CAST(h.hits AS BIGINT) AS hits,
                CAST((h.hits * 1000000) // tot.n_exact AS BIGINT)
                  AS recall_e6
         FROM tot CROSS JOIN h""",
    // the recall-gate pin for the truncated-dims IVF serving path
    // (the maxsim_ivf convention): full query coverage per curve
    // point + the 80% floor met — both sides deterministic (√n-stride
    // sampled codebooks over prefix slices, id tie-breaks)
    "ann_ivf_mrl" ->
      """WITH q AS (SELECT count(*) AS n FROM embeddings
                    WHERE vec_id % 20 = 0)
         SELECT CAST(d.dims AS INTEGER) AS dims,
                CAST(q.n AS BIGINT) AS n_queries,
                CAST(80 AS INTEGER) AS recall_floor_pct,
                CAST(1 AS INTEGER) AS floor_met
         FROM (SELECT unnest([16, 32]) AS dims) d CROSS JOIN q
         ORDER BY dims""",
    // the simplified silhouette replayed: count-derived ⌊√n⌋ stride
    // (identical IEEE sqrt/floor), argmax assignment with the NaN
    // guard, second-nearest lookup, and the (b-a)/max(a,b) arithmetic
    // floored at e6 — identical doubles on both engines before the
    // floor
    "silhouette_gate" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         cb AS (SELECT vec_id AS centroid_id, v AS cv FROM e
                WHERE vec_id % (SELECT GREATEST(1,
                    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))
                  FROM embeddings) = 0
                ORDER BY centroid_id LIMIT 16384),
         sim AS (SELECT e.vec_id, cb.centroid_id,
                   list_dot_product(e.v, cb.cv)
                   / sqrt(list_dot_product(e.v, e.v)
                          * list_dot_product(cb.cv, cb.cv)) AS s
                 FROM e CROSS JOIN cb),
         rk AS (SELECT vec_id, centroid_id, s,
                  row_number() OVER (PARTITION BY vec_id
                       ORDER BY s DESC, centroid_id) AS rn
                FROM sim WHERE NOT isnan(s)),
         t2 AS (SELECT a.vec_id, a.centroid_id AS cluster_id,
                  a.s AS s1, b.s AS s2
                FROM (SELECT * FROM rk WHERE rn = 1) a
                JOIN (SELECT * FROM rk WHERE rn = 2) b USING (vec_id)),
         sil AS (SELECT vec_id, cluster_id,
                   CAST(floor((CASE WHEN greatest(1 - s1, 1 - s2) > 0
                          THEN (s1 - s2) / greatest(1 - s1, 1 - s2)
                          ELSE 0 END) * 1000000 + 0.5) AS BIGINT) AS s_e6
                 FROM t2)
         SELECT cluster_id, count(*) AS n,
                CAST(sum(s_e6) AS BIGINT) AS sum_s_e6,
                min(s_e6) AS min_s_e6, max(s_e6) AS max_s_e6
         FROM sil GROUP BY 1 ORDER BY 1""",
    // the exact closure + the provenance union rollup: survivors
    // carry the SORTED comma-joined distinct source set of their
    // whole cluster (string_agg DISTINCT ... ORDER BY = Spark's
    // concat_ws over sort_array(collect_set))
    "dedup_provenance" ->
      s"""WITH RECURSIVE ${lshLabelsChainSql("", "TRUE")},
         fl AS (SELECT d.doc_id, d.source, d.lang,
                  coalesce(l.cluster_id, d.doc_id) AS cluster_id
                FROM documents d LEFT JOIN lab l ON d.doc_id = l.id)
         SELECT cluster_id,
                CAST(min(doc_id) AS BIGINT) AS keep_id,
                CAST(count(*) AS BIGINT) AS n_members,
                string_agg(DISTINCT source, ',' ORDER BY source)
                  AS provenance,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         FROM fl GROUP BY cluster_id ORDER BY cluster_id""",
    // the CC closure + the quality kernel chain + the per-cluster
    // quality argmax (ties by min id) — survivor selection replayed
    "dedup_canonical_quality" ->
      s"""WITH RECURSIVE ${lshLabelsChainSql("", "TRUE")},
         qs AS (
           SELECT doc_id,
             greatest(length(text), 1)::BIGINT AS len,
             len(list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> len(x) > 0))::BIGINT AS tc,
             greatest(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                      x -> len(x) > 0)), 1)::BIGINT AS nt,
             (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::BIGINT AS p2,
             len(list_filter(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                         x -> len(x) > 0),
                             x -> x IN ('the','a','of','and','to','in','is','it')))::BIGINT AS sw
           FROM documents),
         qn AS (SELECT doc_id,
                  4 * least(tc, 100) * len * nt
                    + 300 * (len - p2) * nt
                    + 300 * least(sw * 5, nt) * len AS n10,
                  1000 * len * nt AS d10
                FROM qs),
         q AS (SELECT doc_id,
                 CAST(floor((n10 * 10000)::DOUBLE / d10::DOUBLE) AS BIGINT)
                   AS q_e4
               FROM qn),
         fl AS (SELECT q.doc_id, q.q_e4,
                  coalesce(l.cluster_id, q.doc_id) AS cluster_id
                FROM q LEFT JOIN lab l ON q.doc_id = l.id),
         rw AS (SELECT cluster_id, doc_id, q_e4,
                  row_number() OVER (PARTITION BY cluster_id
                       ORDER BY q_e4 DESC, doc_id) AS rk,
                  count(*) OVER (PARTITION BY cluster_id) AS n_members
                FROM fl)
         SELECT cluster_id, doc_id AS keep_id, q_e4,
                CAST(n_members AS BIGINT) AS n_members
         FROM rw WHERE rk = 1 ORDER BY cluster_id""",
    // BOTH closures replayed from raw text (base view and full
    // corpus — the exact ≥0.7 shingle closure the maintained labels
    // must equal), the bucket rule on each, and the churn accounting
    // — split stability under the delta measured exactly
    "split_stability" ->
      s"""WITH RECURSIVE
         ${lshLabelsChainSql("b", "doc_id % 10 <> 9")},
         ${lshLabelsChainSql("", "TRUE")},
         bb AS (SELECT d.doc_id,
                  CASE WHEN coalesce(lb.cluster_id, d.doc_id) % 10 < 8
                         THEN 'train'
                       WHEN coalesce(lb.cluster_id, d.doc_id) % 10 = 8
                         THEN 'val' ELSE 'test' END AS bucket_base
                FROM documents d LEFT JOIN labb lb ON d.doc_id = lb.id
                WHERE d.doc_id % 10 <> 9),
         bf AS (SELECT d.doc_id,
                  CASE WHEN coalesce(l.cluster_id, d.doc_id) % 10 < 8
                         THEN 'train'
                       WHEN coalesce(l.cluster_id, d.doc_id) % 10 = 8
                         THEN 'val' ELSE 'test' END AS bucket_full
                FROM documents d LEFT JOIN lab l ON d.doc_id = l.id),
         j AS (SELECT bb.doc_id, bucket_base, bucket_full
               FROM bb JOIN bf ON bb.doc_id = bf.doc_id)
         SELECT CAST(count(*) AS BIGINT) AS n_base,
                CAST(sum(CASE WHEN bucket_base <> bucket_full
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
                CAST(sum(CASE WHEN bucket_base = 'train'
                         AND bucket_full <> 'train'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_train_to_eval,
                CAST(sum(CASE WHEN bucket_base <> 'train'
                         AND bucket_full = 'train'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_to_train,
                CAST((sum(CASE WHEN bucket_base <> bucket_full
                      THEN 1 ELSE 0 END) * 1000000) // count(*)
                     AS BIGINT) AS moved_e6
         FROM j""",
    // both split strategies replayed over the shared CC closure:
    // bucket rule, per-strategy counts, and the straddling-cluster
    // count (0 for cluster_safe by construction — value-checked here)
    "split_leakage_safe" ->
      s"""WITH RECURSIVE ${lshLabelsChainSql("", "TRUE")},
         fl AS (SELECT d.doc_id,
                  coalesce(l.cluster_id, d.doc_id) AS cluster_id
                FROM documents d LEFT JOIN lab l ON d.doc_id = l.id),
         asg AS (SELECT doc_id, cluster_id, doc_id % 10 AS nv,
                   cluster_id % 10 AS sv FROM fl),
         per AS (
           SELECT 'cluster_safe' AS strategy, doc_id, cluster_id,
             CASE WHEN sv < 8 THEN 'train' WHEN sv = 8 THEN 'val'
                  ELSE 'test' END AS bucket FROM asg
           UNION ALL
           SELECT 'naive_docid', doc_id, cluster_id,
             CASE WHEN nv < 8 THEN 'train' WHEN nv = 8 THEN 'val'
                  ELSE 'test' END FROM asg),
         counts AS (SELECT strategy,
             CAST(sum(CASE WHEN bucket = 'train' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_train,
             CAST(sum(CASE WHEN bucket = 'val' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_val,
             CAST(sum(CASE WHEN bucket = 'test' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_test
           FROM per GROUP BY 1),
         lk AS (SELECT strategy,
                  CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS leaky_clusters
                FROM (SELECT strategy, cluster_id,
                        count(DISTINCT bucket) AS nb
                      FROM per GROUP BY 1, 2) z
                GROUP BY 1)
         SELECT counts.strategy, n_train, n_val, n_test, leaky_clusters
         FROM counts JOIN lk USING (strategy) ORDER BY strategy""",
    "ann_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id % 20 = 0),
              c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
                    FROM embeddings),
              s AS (SELECT qid, cid,
                      round(list_dot_product(qv, cv)
                            / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)),
                            4) AS sim_r
                    FROM q JOIN c ON qid <> cid),
              r AS (SELECT qid, cid, sim_r,
                      CAST(row_number() OVER (PARTITION BY qid
                                              ORDER BY sim_r DESC, cid)
                           AS INTEGER) AS rnk
                    FROM s)
         SELECT qid, cid, sim_r, rnk FROM r WHERE rnk <= 5
         ORDER BY qid, rnk""",
    // full margin-mining replay in the same int64 arithmetic the
    // engine uses (sim_e4 / margin_e6 fixed point; `//` = Spark DIV
    // on the positive regime the guards pin)
    "mine_pairs" ->
      """WITH x AS (SELECT vec_id AS xid, CAST(embedding AS DOUBLE[]) AS xv
                    FROM embeddings WHERE vec_id % 2 = 0),
              y AS (SELECT vec_id AS yid, CAST(embedding AS DOUBLE[]) AS yv
                    FROM embeddings WHERE vec_id % 2 = 1),
              s AS (SELECT xid, yid,
                      CAST(round(list_dot_product(xv, yv)
                             / sqrt(list_dot_product(xv, xv)
                                    * list_dot_product(yv, yv)) * 10000)
                           AS BIGINT) AS sim_e4
                    FROM x JOIN y ON true),
              tx AS (SELECT *, row_number() OVER (PARTITION BY xid
                              ORDER BY sim_e4 DESC, yid) AS rnk FROM s),
              sx AS (SELECT xid, sum(sim_e4) AS xsum FROM tx
                     WHERE rnk <= 4 GROUP BY 1),
              ty AS (SELECT *, row_number() OVER (PARTITION BY yid
                              ORDER BY sim_e4 DESC, xid) AS rnk FROM s),
              sy AS (SELECT yid, sum(sim_e4) AS ysum FROM ty
                     WHERE rnk <= 4 GROUP BY 1),
              c AS (SELECT t.xid, t.yid, t.sim_e4,
                      CAST((2 * 4 * t.sim_e4 * 1000000)
                           // (sx.xsum + sy.ysum) AS BIGINT) AS margin_e6
                    FROM tx t JOIN sx ON t.xid = sx.xid
                              JOIN sy ON t.yid = sy.yid
                    WHERE t.rnk <= 4 AND t.sim_e4 > 0
                      AND sx.xsum + sy.ysum > 0),
              b AS (SELECT *, row_number() OVER (PARTITION BY xid
                              ORDER BY margin_e6 DESC, yid) AS brnk FROM c)
         SELECT xid, yid, sim_e4, margin_e6 FROM b
         WHERE brnk = 1 AND margin_e6 >= 1100000 ORDER BY xid""",
    // window strings recomputed verbatim (engine joins on xxhash64 of
    // the same strings — identical counts absent 64-bit collisions)
    "repeated_spans" ->
      """WITH toks AS (SELECT doc_id,
                              list_filter(regexp_split_to_array(text, '\s+'),
                                          x -> len(x) > 0) AS ts
                       FROM documents),
         w AS (SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS win
               FROM toks,
                    LATERAL unnest(range(1, greatest(len(ts) - 7, 0) + 1)) r(i)),
         d AS (SELECT win FROM w GROUP BY win
               HAVING count(DISTINCT doc_id) >= 2),
         rep AS (SELECT w.doc_id, count(*) AS n FROM w
                 JOIN d USING (win) GROUP BY 1),
         tot AS (SELECT doc_id,
                        CAST(greatest(len(ts) - 7, 0) AS BIGINT) AS n_windows
                 FROM toks)
         SELECT t.doc_id, t.n_windows,
                CAST(coalesce(rep.n, 0) AS BIGINT) AS n_repeated
         FROM tot t LEFT JOIN rep ON t.doc_id = rep.doc_id
         ORDER BY t.doc_id""",
    "semdedup_exact" ->
      """WITH e AS (SELECT vec_id, label,
                           CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         d AS (SELECT DISTINCT b.vec_id AS id
               FROM e a JOIN e b
                 ON a.label = b.label AND a.vec_id < b.vec_id
               WHERE list_dot_product(a.v, b.v)
                     / sqrt(list_dot_product(a.v, a.v)
                            * list_dot_product(b.v, b.v)) >= 0.3)
         SELECT e.vec_id AS id, e.label AS cluster
         FROM e LEFT JOIN d ON e.vec_id = d.id
         WHERE d.id IS NULL ORDER BY id""",
    // n_vectors recomputed; encoding coverage and the reconstruction
    // floor are pinned (trained sub-codebooks not SQL-expressible —
    // see pqGate)
    "pq_gate" ->
      """SELECT count(*) AS n_vectors,
                CAST(1 AS INTEGER) AS all_encoded,
                CAST(45 AS INTEGER) AS recon_floor_pct,
                CAST(1 AS INTEGER) AS floor_met
         FROM embeddings""",
    // full code recompute: identical fixed-order double arithmetic on
    // the same float→double-widened values, so every int8 cell matches
    "embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
           x AS (SELECT vec_id, unnest(range(1, len(v) + 1)) AS i,
                        unnest(v) AS val
                 FROM e),
           s AS (SELECT i, min(val) AS mn, max(val) AS mx
                 FROM x GROUP BY i),
           q AS (SELECT vec_id, i,
                   CASE WHEN mx = mn THEN 0
                        ELSE CAST(least(255, greatest(0,
                          floor((val - mn) * 255 / (mx - mn) + 0.5)))
                          AS BIGINT) END AS code
                 FROM x JOIN s USING (i))
         SELECT vec_id,
                string_agg(CAST(code AS VARCHAR), ',' ORDER BY i) AS codes
         FROM q GROUP BY vec_id ORDER BY vec_id""",
    // n_vectors recomputed; the error/range flags are pinned (bounds
    // verified Spark-side against the dequantized values)
    "embed_quantize_gate" ->
      """SELECT count(*) AS n_vectors,
                CAST(1 AS INTEGER) AS within_half_step,
                CAST(1 AS INTEGER) AS codes_in_range
         FROM embeddings""",
    // n_total recomputed; the five contract flags are pinned (the
    // trained kmeans assignment is not SQL-expressible — see
    // semdedupGate)
    "semdedup_gate" ->
      """SELECT count(*) AS n_total,
                CAST(1 AS INTEGER) AS all_assigned,
                CAST(1 AS INTEGER) AS partition_ok,
                CAST(1 AS INTEGER) AS kept_maximal,
                CAST(1 AS INTEGER) AS dropped_witnessed,
                CAST(1 AS INTEGER) AS nontrivial
         FROM embeddings""",
    "embed_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_dot_product(a.v, b.v)
                      / sqrt(list_dot_product(a.v, a.v)
                             * list_dot_product(b.v, b.v)), 4) AS sim_r
         FROM e a JOIN e b
           ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 50
         WHERE list_dot_product(a.v, b.v)
               / sqrt(list_dot_product(a.v, a.v)
                      * list_dot_product(b.v, b.v)) >= 0.15
         ORDER BY id_a, id_b""",
    "cc_exact" ->
      s"""WITH RECURSIVE $ccLabelsSql
         SELECT id, cluster_id FROM lab ORDER BY id""",
    // maintenance ≡ rebuild: the star-contraction merge must land on
    // the full-corpus closure's labels exactly
    "cc_delta" ->
      s"""WITH RECURSIVE $ccLabelsSql
         SELECT id, cluster_id FROM lab ORDER BY id""",
    // shares the g/p pair CTEs with cc_exact (the recursive lab CTE
    // goes unused by the final SELECT; DuckDB prunes it)
    "triangle_count" ->
      s"""WITH RECURSIVE $ccLabelsSql
         SELECT count(*) AS n_triangles
         FROM p e1 JOIN p e2 ON e1.id_b = e2.id_a
                   JOIN p e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b""",
    // same ground truth as triangle_count — the degree-oriented plan
    // must land on the identical triangle total
    "triangle_count_degree" ->
      s"""WITH RECURSIVE $ccLabelsSql
         SELECT count(*) AS n_triangles
         FROM p e1 JOIN p e2 ON e1.id_b = e2.id_a
                   JOIN p e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b""",
    // the oracle pins full-corpus coverage per iteration and the SSE
    // monotonicity flag; the trained codebook is not SQL-recomputable
    // (see kmeansGate)
    "kmeans_gate" ->
      """SELECT CAST(i AS INTEGER) AS iter,
                (SELECT count(*) FROM embeddings) AS n_points,
                CAST(1 AS INTEGER) AS decreased
         FROM range(1, 4) t(i) ORDER BY iter""",
    // the oracle pins full query coverage and the recall assertion; the
    // LSH candidate set itself is not SQL-expressible (see annLshRecall)
    "ann_lsh_recall" ->
      """SELECT count(*) AS n_queries,
                CAST(80 AS INTEGER) AS recall_floor_pct,
                CAST(1 AS INTEGER) AS floor_met
         FROM embeddings WHERE vec_id % 20 = 0""",
    // n_exact_pairs is recomputed from raw text in SQL (string
    // shingles; the kernel's hashed shingles give identical jaccard
    // absent 64-bit collisions) — a value check of the shingle and
    // jaccard kernels; floor_met pins LSH banding recall (measured 1.0
    // at every test SF for this corpus's j ≥ 0.7 pair distribution)
    "dedup_minhash_recall" ->
      """WITH tk AS (
           SELECT doc_id AS id,
                  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              x -> len(x) > 0) AS t
           FROM documents),
         sh AS (
           SELECT id, CASE WHEN len(t) >= 3
                    THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                        for i in range(1, len(t) - 1)])
                    ELSE [array_to_string(t, ' ')] END AS gs
           FROM tk)
         SELECT count(*) AS n_exact_pairs,
                CAST(80 AS INTEGER) AS recall_floor_pct,
                CAST(1 AS INTEGER) AS floor_met
         FROM sh a JOIN sh b ON b.id > a.id AND b.id <= a.id + 20
         WHERE len(list_intersect(a.gs, b.gs))::DOUBLE
               / len(list_distinct(list_concat(a.gs, b.gs))) >= 0.7""",
    // n_window_pairs is recomputed from the id domain; the three flags
    // pin pigeonhole completeness of the banded candidates against a
    // direct windowed XOR-popcount (computed Spark-side — the 64-bit
    // signature arithmetic is not DuckDB-expressible), non-degenerate
    // signatures, and a corpus that actually exercises Hamming ≤ 3
    "dedup_simhash_recall" ->
      """SELECT count(*) AS n_window_pairs,
                CAST(1 AS INTEGER) AS has_dups,
                CAST(1 AS INTEGER) AS complete,
                CAST(1 AS INTEGER) AS sig_diverse
         FROM documents a JOIN documents b
           ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 20""",
    "ann_ivf_recall" ->
      """SELECT count(*) AS n_queries,
                CAST(60 AS INTEGER) AS recall_floor_pct,
                CAST(1 AS INTEGER) AS floor_met
         FROM embeddings WHERE vec_id % 20 = 0""",
    // the one-search tuning sweep replayed end to end (no gate row:
    // the curve VALUES hash-compare)
    "ann_recall_curve" -> annRecallCurveOracleSql,
    // the curve chain + the 80%-target pick rule + the ranking served
    // at the chosen budget — the closed tuning loop replayed
    "ann_autotune" -> annAutotuneOracleSql,
    // the IVF replay with the fit-once codebook from the FULL corpus
    // (stride from the full count — the quantizer is not refit per
    // delete) but lists and re-rank over SURVIVORS only: the served
    // search over the forgotten index must equal a rebuild from the
    // surviving rows
    "ann_index_forget" ->
      s"""WITH eall AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
         e AS (SELECT * FROM eall WHERE vec_id % 13 <> 5),
         cb AS (SELECT vec_id AS centroid_id, v AS cv FROM eall
                WHERE vec_id % $sqrtStrideSql = 0
                ORDER BY centroid_id LIMIT 16384),
         sim AS (SELECT e.vec_id, cb.centroid_id,
                   list_dot_product(e.v, cb.cv)
                   / sqrt(list_dot_product(e.v, e.v)
                          * list_dot_product(cb.cv, cb.cv)) AS s
                 FROM e CROSS JOIN cb),
         rk AS (SELECT vec_id, centroid_id, s,
                  row_number() OVER (PARTITION BY vec_id
                       ORDER BY s DESC, centroid_id) AS rn
                FROM sim WHERE NOT isnan(s)),
         asg AS (SELECT vec_id AS cid, centroid_id FROM rk WHERE rn = 1),
         pb AS (SELECT vec_id AS qid, centroid_id FROM rk
                WHERE rn <= $derivedNprobeSql AND vec_id = 0),
         cand AS (SELECT pb.qid, asg.cid
                  FROM pb JOIN asg USING (centroid_id)
                  WHERE pb.qid <> asg.cid),
         s2 AS (SELECT cand.qid, cand.cid,
                  round(list_dot_product(q.v, c.v)
                        / sqrt(list_dot_product(q.v, q.v)
                               * list_dot_product(c.v, c.v)), 4) AS sim_r
                FROM cand JOIN e q ON cand.qid = q.vec_id
                          JOIN e c ON cand.cid = c.vec_id),
         r AS (SELECT qid, cid, sim_r,
                 CAST(row_number() OVER (PARTITION BY qid
                      ORDER BY sim_r DESC, cid) AS INTEGER) AS rnk
               FROM s2)
         SELECT qid, cid, sim_r, rnk FROM r WHERE rnk <= 3
         ORDER BY qid, rnk""",
    "ann_ivf_trained_recall" ->
      """SELECT count(*) AS n_queries,
                CAST(75 AS INTEGER) AS recall_floor_pct,
                CAST(1 AS INTEGER) AS floor_met
         FROM embeddings WHERE vec_id % 20 = 0""",
    "ann_ivfpq_recall" ->
      """SELECT count(*) AS n_queries,
                CAST(60 AS INTEGER) AS recall_floor_pct,
                CAST(1 AS INTEGER) AS floor_met
         FROM embeddings WHERE vec_id % 20 = 0""",
    "embed_norm" ->
      """SELECT vec_id, label,
         round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))), 4) AS l2_norm
         FROM embeddings ORDER BY vec_id""",
    // the embed_drift replay: same e6 quantization, HUGEINT twin of
    // the DECIMAL(38,0) cleared-denominator mean shift, floor `//`
    // applied to |num| with the sign re-applied so both engines'
    // integer divisions agree on negatives
    "embed_drift" ->
      """WITH cells AS (
           SELECT vec_id % 2 = 0 AS early, t.i - 1 AS i,
                  CAST(floor(v[t.i] * 1e6 + 0.5) AS BIGINT) AS x_e6
           FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings) e
           CROSS JOIN range(1, 65) t(i)),
         g AS (SELECT i,
                 CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN NOT early THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                 CAST(sum(CASE WHEN early THEN x_e6 ELSE 0 END) AS BIGINT) AS s1,
                 CAST(sum(CASE WHEN NOT early THEN x_e6 ELSE 0 END) AS BIGINT) AS s2
               FROM cells GROUP BY i)
         SELECT CAST(i AS INTEGER) AS dim, n1, n2,
                CAST(CASE WHEN n1 * n2 = 0 THEN NULL
                          WHEN CAST(s1 AS HUGEINT) * n2
                               - CAST(s2 AS HUGEINT) * n1 >= 0
                          THEN (CAST(s1 AS HUGEINT) * n2
                                - CAST(s2 AS HUGEINT) * n1)
                               // (CAST(n1 AS HUGEINT) * n2)
                          ELSE -((-(CAST(s1 AS HUGEINT) * n2
                                    - CAST(s2 AS HUGEINT) * n1))
                                 // (CAST(n1 AS HUGEINT) * n2))
                     END AS BIGINT) AS drift_e6
         FROM g ORDER BY dim""",
    // generated from the SAME Achlioptas sign matrix the Spark side
    // bakes into its plan — identical fixed-order double arithmetic
    "embed_project" -> graft.ops.Projection.oracleSql(jlMat),
    "embed_project_gate" ->
      """SELECT count(*) AS n_pairs,
                CAST(1 AS INTEGER) AS mean_ratio_in_band,
                CAST(1 AS INTEGER) AS ratios_positive
         FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1""")
}
