package graft

import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.dsl._
import graft.ops.Dedup

class DedupSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSession.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("minhash signature is deterministic and length-correct") {
    val df = Seq("the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat").toDF("text")
    val sigs = df.select(minhash_sig(
        Dedup.shingleHashes(col("text"), 3), 128).as("sig"))
      .collect().map(_.getSeq[Long](0))
    assert(sigs.forall(_.length == 128))
    val again = df.select(minhash_sig(
        Dedup.shingleHashes(col("text"), 3), 128).as("sig"))
      .collect().map(_.getSeq[Long](0))
    assert(sigs.zip(again).forall { case (a, b) => a == b })
    // similar texts agree on most slots, different texts don't on all
    val agree = sigs(0).zip(sigs(1)).count { case (a, b) => a == b }
    assert(agree > 32 && agree < 128, s"agree=$agree")
  }

  test("identical texts → jaccard 1.0 pair from minhashPairs") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "completely different words entirely unrelated content here now")
    ).toDF("id", "text")
    val pairs = Dedup.minhashPairs(df, "id", "text", threshold = 0.9)
      .collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("id_a") == 1L)
    assert(pairs(0).getAs[Long]("id_b") == 2L)
    assert(pairs(0).getAs[Double]("jaccard") == 1.0)
  }

  test("keyPairs: salted grid join equals the plain self-join exactly") {
    // skewed bucket layout: one hot key with 40 members (every salt
    // collision shape, incl. pairs whose salts coincide — the case the
    // canonical-cell filter must dedupe), several cold keys, and keys
    // crossing the hot threshold boundary exactly
    val rows = (
      (1 to 40).map(i => ("hot", i.toLong)) ++
      (1 to 5).map(i => ("warm", 100L + i)) ++
      Seq(("cold", 200L), ("cold", 201L), ("single", 300L))
    ).toDF("k", "id")
    val plain = Dedup.keyPairs(rows, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    for (salt <- Seq(2, 3, 7); thr <- Seq(0, 4, 39)) {
      val salted = Dedup.keyPairs(rows, Seq("k"), thr, salt).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(salted == plain, s"salt=$salt thr=$thr")
    }
    // multiplicity is preserved per key match, not collapsed: the
    // fingerprint caller counts these rows
    assert(plain.length == 40 * 39 / 2 + 5 * 4 / 2 + 1)
  }

  /** What a self-equi-join on `k` with `a.id < b.id` returns: one
    * (id_a, id_b) per matching row pair, NULL keys and NULL ids never
    * matching, over the buckets of at most `cap` non-NULL ids. */
  private def referencePairs(rows: Seq[(Option[String], Option[Long])],
                             cap: Int): Seq[(Long, Long)] = {
    val live = rows.collect { case (Some(k), Some(id)) => (k, id) }
    val kept = live.groupBy(_._1).filter(_._2.size <= cap)
    kept.values.toSeq.flatMap { b =>
      for ((_, a) <- b; (_, c) <- b if a < c) yield (a, c)
    }.sorted
  }

  private def keyPairsOf(rows: Seq[(Option[String], Option[Long])],
                         thr: Int, salt: Int, cap: Int): Seq[(Long, Long)] =
    Dedup.keyPairs(rows.toDF("k", "id"), Seq("k"), thr, salt, cap).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("keyPairs equals a brute-force self-join on hostile inputs, " +
      "every salt and hot threshold") {
    val rnd = new scala.util.Random(11)
    def hostile: Seq[(Option[String], Option[Long])] =
      (1 to 40).map(i => (Some("hot"), Some(i.toLong))) ++
      (1 to 46).map(i => (Some("big"), Some(500L + i))) ++
      // NULL keys: a groupBy would pair these, the self-join does not
      (1 to 6).map(i => (None, Some(700L + i))) ++
      // NULL ids inside a bucket, and a bucket of NULL ids only
      Seq((Some("warm"), None), (Some("warm"), Some(101L)), (Some("warm"), Some(102L)),
        (Some("warm"), None), (Some("nulls"), None), (Some("nulls"), None)) ++
      // duplicate (id, key) rows: the self-join pairs each copy
      Seq(901L, 901L, 903L, 902L).map(i => (Some("dup"), Some(i))) ++
      Seq((Some("single"), Some(300L)))
    def random(n: Int): Seq[(Option[String], Option[Long])] = Seq.fill(n) {
      (if (rnd.nextInt(10) == 0) None else Some("k" + rnd.nextInt(6)),
        if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(30).toLong))
    }
    val inputs = Seq("hostile" -> hostile,
      "empty" -> Seq.empty[(Option[String], Option[Long])],
      "random 60" -> random(60), "random 120" -> random(120))
    for ((name, rows) <- inputs; cap <- Seq(45, Int.MaxValue)) {
      val want = referencePairs(rows, cap)
      for (salt <- Seq(1, 2, 3, 7); thr <- Seq(0, 4, 39))
        assert(keyPairsOf(rows, thr, salt, cap) == want,
          s"$name cap=$cap salt=$salt thr=$thr")
    }
    // the cap drops exactly the one bucket over it
    val h = hostile
    val bigPairs = referencePairs(h.filter(_._1.contains("big")), Int.MaxValue)
    assert(bigPairs.length == 46 * 45 / 2)
    assert(keyPairsOf(h, 4, 3, 45) ==
      referencePairs(h, Int.MaxValue).diff(bigPairs))
    assert(keyPairsOf(h, 0, 1, 45).count(_ == (901L, 902L)) == 2)
  }

  test("minhashPairs: hot-bucket salting flag is result-invariant") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = Dedup.minhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // threshold 1 forces EVERY multi-member bucket through the salted
    // grid — maximal divergence surface vs the plain path
    val salted = Dedup.minhashPairs(docs, "doc_id", "text",
        hotBucketThreshold = 1, hotBucketSalt = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(salted == base)
    assert(base.nonEmpty) // the corpus has planted near-dups
  }

  test("simhash: identical → hamming 0; near-identical → small hamming") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda")
    ).toDF("id", "text")
    val pairs = Dedup.simhashPairs(df, "id", "text", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
  }

  /** What an all-pairs Hamming filter returns over (id, sig) rows:
    * each distinct (a < b, distance) within `maxHamming`, NULL ids and
    * NULL signatures never pairing. */
  private def hammingReference(rows: Seq[(Option[Long], Option[Long])],
                               maxHamming: Int): Seq[(Long, Long, Int)] = {
    val live = rows.collect { case (Some(id), Some(sig)) => (id, sig) }.distinct
    (for ((a, sa) <- live; (b, sb) <- live if a < b;
          d = java.lang.Long.bitCount(sa ^ sb) if d <= maxHamming)
      yield (a, b, d)).distinct.sorted
  }

  private def hammingRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq

  test("simhashPairs and dhashNearDupPairs equal a brute-force Hamming " +
      "filter on hostile inputs") {
    import graft.functions.Kernels
    import graft.ops.Multimodal
    val rnd = new scala.util.Random(23)
    val words = Vector.tabulate(40)(i => s"w$i")
    def text(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    // one hot band: 40 one-word edits of a 60-word text share most of
    // their SimHash bits, so they crowd the same band buckets
    val base = text(60).split(" ")
    val hot = (0 until 40).map { i =>
      val t = base.clone(); t(rnd.nextInt(60)) = words(rnd.nextInt(words.size))
      (Option(1000L + i), Option(t.mkString(" ")))
    }
    val texts = hot ++ (0 until 30).map(i => (Option(2000L + i), Option(text(12)))) ++
      Seq((None, Option(base.mkString(" "))),             // NULL id
        (Option(3000L), None), (Option(3001L), None),     // NULL text
        (Option(3002L), Option("")), (Option(3003L), Option(""))) ++
      hot.take(3) ++ hot.take(1)                          // duplicate rows
    val docs = texts.toDF("id", "text")
    val sigs = docs.select(col("id"), simhash64(token_hashes(col("text"))))
      .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        Option(r.get(1)).map(_.asInstanceOf[Long]))).toSeq
    val hotBucket = sigs.take(40).groupBy(_._2.map(_ & 0xffffL)).values.map(_.size).max
    assert(hotBucket >= 20, s"the hot band holds only $hotBucket ids")
    for (h <- Seq(0, 3, 10)) {
      val want = hammingReference(sigs, h)
      assert(hammingRows(Dedup.simhashPairs(docs, "id", "text", h)) == want,
        s"simhash maxHamming=$h")
      if (h == 10) assert(want.size > 40, "the fixture must hold live pairs")
    }

    // dHash: bits 32..47 (the lowest 16-bit band of hi << 32 | lo) read
    // body bytes 72..107 of a 144-byte body, so bodies that share those
    // bytes share that band
    val shared = Array.fill(36)((rnd.nextInt(26) + 'a').toByte)
    def body(hotBand: Boolean): Array[Byte] = {
      val b = Array.fill(144)((rnd.nextInt(26) + 'a').toByte)
      if (hotBand) System.arraycopy(shared, 0, b, 72, 36)
      b
    }
    def png(b: Array[Byte]) = Kernels.makeMediaHeader(1, 8, 8) ++ b
    val hotBodies = Seq.fill(40)(body(hotBand = true))
    val media: Seq[(Option[Long], Option[Array[Byte]])] =
      hotBodies.zipWithIndex.map { case (b, i) => (Option(i.toLong), Option(png(b))) } ++
      // light edits of hot bodies: small nonzero distances
      hotBodies.take(10).zipWithIndex.map { case (b, i) =>
        val e = b.clone(); e(7) = 'z'.toByte; (Option(100L + i), Option(png(e))) } ++
      (0 until 20).map(i => (Option(200L + i), Option(png(body(hotBand = false))))) ++
      // all-zero signatures: flat and empty bodies would pair at 0
      (0 until 4).map(i => (Option(300L + i), Option(png(Array.fill(144)('q'.toByte))))) ++
      Seq((Option(304L), Option(png(Array.empty[Byte]))),
        (Option(305L), None),                              // NULL payload
        (None, Option(png(hotBodies(0))))) ++              // NULL id
      Seq(0, 0, 1).map(i => (Option(i.toLong), Option(png(hotBodies(i))))) // duplicates
    val mediaDf = media.map { case (id, p) => (id, "image", p) }
      .toDF("media_id", "kind", "payload")
    val dsigs = Multimodal.perceptualDhash(mediaDf).collect().map { r =>
      val sig = for (hi <- Option(r.get(1)); lo <- Option(r.get(2)))
        yield (hi.asInstanceOf[Long] << 32) | lo.asInstanceOf[Long]
      (Option(r.get(0)).map(_.asInstanceOf[Long]), sig)
    }.toSeq
    val zeros = dsigs.collect { case (Some(id), Some(0L)) => id }.toSet
    assert(zeros == Set(300L, 301L, 302L, 303L, 304L))
    assert(dsigs.take(40).map(_._2.map(_ & 0xffffL)).distinct.size == 1,
      "the hot bodies must share one band")
    for (h <- Seq(0, 3)) {
      val want = hammingReference(dsigs.filterNot(_._2.contains(0L)), h)
      val got = hammingRows(Multimodal.dhashNearDupPairs(mediaDf, h))
      assert(got == want, s"dhash maxHamming=$h")
      assert(!got.exists(p => zeros(p._1) || zeros(p._2)))
      if (h == 3) assert(want.nonEmpty, "the fixture must hold live pairs")
    }
  }

  test("minhash finds the corpus's planted near-dups (jaccard ≥ 0.9)") {
    val docs = Tables(spark, sf, "documents")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.9)
      .collect()
    assert(pairs.nonEmpty, "expected planted near-duplicates in documents")
    assert(pairs.forall(_.getAs[Double]("jaccard") >= 0.9))
  }

  test("connectedComponents matches union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    val pairs = (1 to 60).map(_ => (rnd.nextInt(40).toLong,
      rnd.nextInt(40).toLong)).filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    val df = pairs.toDF("id_a", "id_b")
    // exercise BOTH paths: the bounded driver-side union-find coda and
    // the distributed large-star/small-star rounds (forced via
    // localFinishEdges = 0)
    val got = Dedup.connectedComponents(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotDistributed =
      Dedup.connectedComponents(df, localFinishEdges = 0L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val want = nodes.map(n => n -> find(n)).toMap
    assert(got == want)
    assert(gotDistributed == want)
  }

  test("connectedComponents fails loudly when maxIter is exhausted") {
    // a 6-node chain needs more than one star round; with maxIter = 1
    // (and the local coda disabled) the loop cannot even observe a
    // fixpoint, and labeling the non-converged edge set would emit
    // ambiguous cluster ids — the contract is to refuse instead
    val chain = (0L until 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 1, localFinishEdges = 0L)
        .collect()
    }
    assert(ex.getMessage.contains("fixpoint"))
  }

  test("cosine_sim: unit vectors and orthogonality") {
    val df = Seq(
      (Array(1f, 0f), Array(1f, 0f), 1.0),
      (Array(1f, 0f), Array(0f, 1f), 0.0),
      (Array(1f, 1f), Array(1f, 1f), 1.0),
      (Array(3f, 4f), Array(3f, 4f), 1.0)
    ).toDF("a", "b", "want")
    val got = df.select(cosine_sim(col("a"), col("b")).as("c"), col("want"))
      .collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("srp_bucket: equal vectors share buckets; is deterministic") {
    // ±1±2±4 can never sum to 0, so every projection has a strict sign
    // and the antipodal vector flips every bit.
    val df = Seq((1L, Array(1f, 2f, 4f)), (2L, Array(1f, 2f, 4f)),
      (3L, Array(-1f, -2f, -4f))).toDF("id", "v")
    val b = df.select(col("id"), srp_bucket(col("v"), 16).as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(1L) == b(2L))
    // antipodal vector flips every sign bit
    assert(b(3L) == (~b(1L) & 0xFFFFL))
  }

  test("kmeansTrain: SSE non-increasing, codebook unit-norm, separable data clusters") {
    // two well-separated directions + noise-free copies: spherical
    // k-means with k=2 must converge and drive the objective down
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) Array(10f, 0f, 1f, 0f) else Array(0f, 10f, 0f, 1f)
      (i.toLong, base.map(x => x * (1f + (i / 2) * 0.01f)).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val (codebook, hist) = graft.ops.Similarity.kmeansTrain(
      df, "vec_id", "embedding", k = 2, iters = 4, seedEvery = 3)
    assert(hist.length == 4)
    assert(hist.forall(_._3 == 40L))
    hist.map(_._2).sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-6, s"SSE increased: $a -> $b")
    }
    // scaled copies of two directions: final SSE ~ 0
    assert(hist.last._2 < 1e-3)
    codebook.foreach { c =>
      val n = math.sqrt(c.map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1.0) < 1e-4, s"centroid not unit-norm: $n")
    }
  }

  test("ann_ivf recall vs brute force") {
    val exact = graft.queries.ScaleQueries.annTopk(spark, sf)
      .filter(col("rnk") === 1).select("qid", "cid").as[(Long, Long)]
      .collect().toSet
    val approx = graft.queries.ScaleQueries.annIvf(spark, sf)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val hit = exact.count(approx.contains)
    info(s"ivf rank-1 recall: $hit/${exact.size}")
    assert(approx.nonEmpty)
  }

  test("ann_lsh recall vs brute force is nonzero and pairs are a subset") {
    val exact = graft.queries.ScaleQueries.annTopk(spark, sf)
      .filter(col("rnk") === 1).select("qid", "cid").as[(Long, Long)]
      .collect().toSet
    val approx = graft.queries.ScaleQueries.annLsh(spark, sf)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val hit = exact.count(approx.contains)
    info(s"rank-1 recall: $hit/${exact.size}")
    assert(approx.nonEmpty)
  }

  test("ann_lsh_recall / ann_ivf_recall gates: full coverage, floor met") {
    val nQueries = graft.Tables(spark, sf, "embeddings")
      .filter(col("vec_id") % 20 === 0).count()
    // LSH's floor is 80 (query-directed probing measures ≥0.93); IVF
    // keeps 60 (nprobe=2 over 8 lists measures 0.787 at sf0.1)
    for ((gate, floor) <- Seq(
        (graft.queries.ScaleQueries.annLshRecall _, 80),
        (graft.queries.ScaleQueries.annIvfRecall _, 60))) {
      val row = gate(spark, sf).collect()
      assert(row.length == 1)
      assert(row(0).getAs[Long]("n_queries") == nQueries)
      assert(row(0).getAs[Int]("recall_floor_pct") == floor)
      assert(row(0).getAs[Int]("floor_met") == 1)
    }
  }

  test("dedup_minhash_recall gate: exact pairs found and floor met") {
    val row = graft.queries.ScaleQueries.dedupMinhashRecall(spark, sf).collect()
    assert(row.length == 1)
    assert(row(0).getAs[Long]("n_exact_pairs") > 0)
    assert(row(0).getAs[Int]("floor_met") == 1)
  }

  test("benchmarkOverlap counts shared shingles and flags by threshold") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // shares 4 grams w/ bench
      (2L, "one two three four five six seven"),   // shares 5 grams -> flagged
      (3L, "totally unrelated words here present"),
      (4L, "ab")                                    // < 3 tokens: excluded
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (101L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val out = Dedup.benchmarkOverlap(corpus, bench, "doc_id", "text",
        n = 3, minShared = 5)
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val byId = out.map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    // doc 1 (4 grams) shares bench 100's 3 grams -> below the 5 floor
    assert(byId(1L) == ((3L, 0)))
    // doc 2 is identical to bench 101: all 5 grams shared -> flagged
    assert(byId(2L) == ((5L, 1)))
    assert(byId(3L) == ((0L, 0)))
  }

  test("repeatedSpans: cross-doc windows flagged, within-doc repeats " +
       "and short docs don't count") {
    import org.apache.spark.sql.functions.col
    val span = "a b c d e f g h" // 8 shared tokens
    val docs = Seq(
      (1L, s"$span tail1 tail2"),       // 3 windows, 1 shared
      (2L, s"lead1 $span tail3"),       // 3 windows, 1 shared
      (3L, s"$span $span"),             // within-doc repeat of the SHARED span
      (4L, "x y z w v u t s r q"),      // 3 windows, none shared
      (5L, "only seven tokens here not eight ok"), // 7 tokens -> 0 windows
      (6L, s"p q r $span")              // shared span at the end
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.repeatedSpans(docs, "doc_id", "text", k = 8)
      .orderBy("id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == ((3L, 1L)))
    assert(out(2L) == ((3L, 1L)))
    // doc 3: 9 windows; every window containing the full span across
    // the seam also repeats in docs 1/2/6 only for the exact span —
    // the two pure-span windows (pos 0 and 8) are cross-doc shared
    assert(out(3L)._1 == 9L && out(3L)._2 >= 2L)
    assert(out(4L) == ((3L, 0L)))
    assert(out(5L) == ((0L, 0L)))
    assert(out(6L)._2 == 1L)
    // purely WITHIN-doc repetition is not flagged at minDocs=2
    val solo = Seq((9L, s"$span $span")).toDF("doc_id", "text")
    val soloOut = graft.ops.Dedup.repeatedSpans(solo, "doc_id", "text", k = 8)
      .collect().head
    assert(soloOut.getLong(2) == 0L)
  }

  test("semanticDedupByCluster: greedy keep-min-id within cluster only") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // cluster 0: ids 1,2,3 near-identical; cluster 1: ids 4,5 similar,
    // id 6 orthogonal to both. id 7 duplicates id 1's vector but sits
    // in ANOTHER cluster -> must survive (pruning is cluster-local).
    val rows = Seq(
      (1L, 0L, Seq(1.0f, 0.0f, 0.01f)),
      (2L, 0L, Seq(1.0f, 0.0f, 0.02f)),
      (3L, 0L, Seq(1.0f, 0.01f, 0.0f)),
      (4L, 1L, Seq(0.0f, 1.0f, 0.01f)),
      (5L, 1L, Seq(0.0f, 1.0f, 0.02f)),
      (6L, 1L, Seq(0.7f, 0.0f, 0.7f)),
      (7L, 2L, Seq(1.0f, 0.0f, 0.01f))
    ).toDF("id", "cluster", "v")
    val kept = graft.ops.Similarity.semanticDedupByCluster(rows, 0.9)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(kept == Seq((1L, 0L), (4L, 1L), (6L, 1L), (7L, 2L)))
    // chain semantics (the SemDeDup rank rule): a~b, b~c, a NOT~ c
    // drops BOTH b and c — c's witness b is itself dropped. This is
    // deliberately more aggressive than a sequential keep-then-compare
    // greedy (which would keep c), and it is what the semdedup_exact
    // oracle recomputes in SQL.
    val chain = Seq(
      (1L, 0L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, 0L, Seq(0.9f, 0.436f, 0.0f)),  // cos ≈ 0.90 to id1 and id3
      (3L, 0L, Seq(0.62f, 0.785f, 0.0f))  // cos ≈ 0.62 to id1 (below τ)
    ).toDF("id", "cluster", "v")
    val keptChain = graft.ops.Similarity.semanticDedupByCluster(chain, 0.85)
      .select("id").as[Long].collect().toSet
    assert(keptChain == Set(1L))
  }

  test("ivfpqTopK: full query coverage, k rows each, recall beats " +
       "the ADC-only floor") {
    import org.apache.spark.sql.functions._
    val spark = TestSession.spark
    val dir = "/root/testdata/sf0.001"
    val approx = graft.ops.Similarity.ivfpqTopK(
      spark.read.parquet(s"$dir/embeddings.parquet"),
      "vec_id", "embedding", col("vec_id") % 20 === 0,
      k = 3, m = 16, rerank = 128)
    val rows = approx.collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 25 && byQ.values.forall(_.length == 3))
    // exact ground truth via the registered brute-force query
    val exact = graft.queries.ScaleQueries.queries("ann_topk")(spark, dir)
      .filter(col("rnk") <= 3).select("qid", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = rows.count(r => exact((r.getLong(0), r.getLong(1))))
    assert(hits * 100 >= exact.size * 60,
      s"recall ${hits.toDouble / exact.size} below the 60% gate floor")
  }

  test("sqTopK: full query coverage, ranks 1..k, partitioning-" +
       "invariant, recall over the gate floor") {
    import org.apache.spark.sql.functions._
    val spark = TestSession.spark
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val (mns, mxs) = graft.ops.Similarity.sqStats(emb, "embedding")
    def run(input: org.apache.spark.sql.DataFrame) =
      graft.ops.Similarity.sqTopK(input, "vec_id", "embedding",
          col("vec_id") % 20 === 0, k = 3, rerank = 32, mns, mxs)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val rows = run(emb)
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == 25 && byQ.values.forall(_.length == 3))
    assert(byQ.values.forall(_.map(_._4).sorted.sameElements(Seq(1, 2, 3))))
    // determinism under physical layout: a repartitioned input must
    // produce the identical row set (ADC and re-rank tie-break on
    // rounded sim + cid, never on arrival order)
    assert(run(emb.repartition(7)).toSet == rows.toSet,
      "sqTopK result depends on input partitioning")
    val exact = graft.queries.ScaleQueries.queries("ann_topk")(spark, dir)
      .filter(col("rnk") <= 3).select("qid", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = rows.count(r => exact((r._1, r._2)))
    assert(hits * 100 >= exact.size * 90,
      s"recall ${hits.toDouble / exact.size} below the 90% gate floor")
  }

  test("pqEncode: shapes, in-range codes, reconstruction beats noise") {
    import org.apache.spark.sql.functions._
    val emb = TestSession.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (enc0, cbs) = graft.ops.Similarity.pqEncode(
      emb, "vec_id", "embedding", m = 8, k = 16, iters = 1)
    val enc = enc0.cache()
    // 8 codebooks x <=16 centroids x 8-dim sub-vectors
    assert(cbs.length == 8 && cbs.forall(cb =>
      cb.length <= 16 && cb.forall(_.length == 8)))
    val n = emb.count()
    assert(enc.count() == n)
    assert(enc.filter(size(col("code")) =!= 8).count() == 0)
    assert(enc.filter(exists(col("code"),
      c => c.isNull || c < 0 || c >= 16)).count() == 0)
    // mean reconstruction cosine must be solidly positive (random
    // codes on 64-dim data sit near 0)
    val sim = graft.ops.Similarity.pqReconstructionSim(enc, cbs)
      .agg(avg(col("sim"))).head().getDouble(0)
    assert(sim > 0.3, s"mean reconstruction cosine $sim")
    // deterministic across partition layouts
    val (enc2, _) = graft.ops.Similarity.pqEncode(
      emb.repartition(7), "vec_id", "embedding", m = 8, k = 16, iters = 1)
    val a = enc.select("id", "code").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = enc2.select("id", "code").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a == b)
    enc.unpersist()
  }

  test("assignKmeansClusters covers every row and matches the codebook") {
    import org.apache.spark.sql.functions.col
    val emb = TestSession.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val assigned = graft.ops.Similarity.assignKmeansClusters(
      emb, "vec_id", "embedding", k = 8, iters = 1)
    assert(assigned.filter(col("cluster").isNull).count() == 0)
    assert(assigned.count() == emb.count())
    val ids = assigned.select("cluster").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(ids.subsetOf((0L until 8L).toSet))
  }

  test("minhashPairsIncremental: delta-probe maintenance equals the " +
      "batch operator and the legs partition the pair set") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val batch = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleN = 3, bands = 16, rowsPerBand = 8, threshold = 0.7)
    val inc = Dedup.minhashPairsIncremental(docs, "doc_id", "text",
      deltaOf = c => pmod(c, lit(10)) === 9,
      shingleN = 3, bands = 16, rowsPerBand = 8, threshold = 0.7)
    // same pair set, pair for pair (jaccard included)
    val b = batch.select("id_a", "id_b", "jaccard")
    val i = inc.select("id_a", "id_b", "jaccard")
    assert(b.except(i).isEmpty && i.except(b).isEmpty,
      "incremental maintenance must reproduce the batch pair set")
    // src really is the leg structure: base ⟺ neither endpoint new
    val wrong = inc.filter(
      (col("src") === "base") =!=
        (col("id_a") % 10 =!= 9 && col("id_b") % 10 =!= 9))
    assert(wrong.isEmpty, "src must name the producing leg")
    // no pair arrives twice (legs are disjoint, distinct folded dups)
    assert(inc.groupBy("id_a", "id_b").count()
      .filter(col("count") > 1).isEmpty)
  }

  test("prefixJaccardPairs (PPJoin) equals brute-force all-pairs " +
      "Jaccard on random corpora — the prefix filter is COMPLETE") {
    val rnd = new scala.util.Random(42)
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "mu", "nu")
    for (trial <- 1 to 3) {
      val docs = (0L until 30L).map { i =>
        val n = 3 + rnd.nextInt(6)
        // sampling WITH replacement exercises the distinct-token rule
        (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      val got = Dedup.prefixJaccardPairs(df, "doc_id", "text")
        .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
        .map((p: (Long, Long)) => (p._2, p._1)) // (id_a, id_b)
      val sets = docs.map { case (i, t) =>
        i -> t.split("\\W+").filter(_.nonEmpty).toSet }.toMap
      val want = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if b > a
        sa = sets(a); sb = sets(b)
        inter = (sa & sb).size
        if inter * 2 >= (sa.size + sb.size - inter) * 1
      } yield (a, b)).toSet
      assert(got == want,
        s"trial $trial: missing=${want -- got} extra=${got -- want}")
    }
  }

  test("prefixJaccardPairs: jaccard values are exact; threshold 1/1 " +
      "keeps only identical token sets") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),     // identical set → J = 1
      (3L, "alpha beta gamma epsilon"),   // J = 3/5 = 0.6 vs 1,2
      (4L, "zeta eta theta iota")         // disjoint
    ).toDF("doc_id", "text")
    val half = Dedup.prefixJaccardPairs(df, "doc_id", "text", 1, 2)
      .collect().map(r => ((r.getLong(1), r.getLong(0)),
        r.getDouble(2))).toMap
    val halfPairs = half.keySet.map { case (b, a) => (a, b) }
    assert(halfPairs == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"got $halfPairs")
    assert(half((2L, 1L)) == 1.0)
    assert(half((3L, 1L)) == 0.6)
    val exact = Dedup.prefixJaccardPairs(df, "doc_id", "text", 1, 1)
      .collect().map(r => (r.getLong(1), r.getLong(0)))
    assert(exact.toSet == Set((2L, 1L)), s"got ${exact.toSet}")
  }

  /** The LSH verification joins in `plans` (every join keyed on id_a
    * or id_b), each as (key, join operator, whether it builds on the
    * candidate side: the side that carries both ids).
    */
  private def verifyJoins(plans: Seq[SparkPlan]): Seq[(String, String, Boolean)] =
    plans.flatMap(p => collect(p) {
      case j: BaseJoinExec
          if j.leftKeys.flatMap(_.references).map(_.name) == Seq("id_a") ||
            j.leftKeys.flatMap(_.references).map(_.name) == Seq("id_b") =>
        val buildsCandidates = j match {
          case b: BroadcastHashJoinExec =>
            val build = if (b.buildSide == BuildLeft) b.left else b.right
            Set("id_a", "id_b").subsetOf(build.output.map(_.name).toSet)
          case _ => false
        }
        (j.leftKeys.flatMap(_.references).map(_.name).head, j.nodeName,
          buildsCandidates)
    })

  test("minhashPairs: both verification joins broadcast the candidate side") {
    // the candidates descend from the band self-join, so their
    // checkpoint used to keep a join-product estimate (1.8e16 B at
    // sf0.01): the broadcast-demotion rule stripped the candidate
    // hint and the inner join broadcast the shingle table instead
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
    val run = SparkRun(spark) {
      Dedup.minhashPairs(docs, "doc_id", "text").count()
    }
    val joins = verifyJoins(run.plans)
    assert(joins.map(_._1).toSet == Set("id_a", "id_b"), joins)
    assert(joins.forall { case (_, op, cand) => op == "BroadcastHashJoin" && cand },
      joins)
    assert(run.value > 0)
  }

  test("spread reads the partition count without a SQL execution of its own") {
    val docs = Tables(spark, sf, "documents")
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val probe = SparkRun(spark)(Dedup.spread(docs))
    assert(probe.plans.isEmpty && probe.jobs == 0, probe.plans.map(_.nodeName))
    // the decision df.rdd's count would take
    assert((probe.value eq docs) == (docs.rdd.getNumPartitions >= n))
    // minhashPairs spreads its input: no executed plan is the count
    // probe (a DeserializeToObject over the documents scan), and the
    // pairs equal those of an input spread up front, where spread
    // keeps the frame as it is
    def pairs(df: org.apache.spark.sql.DataFrame) = SparkRun(spark) {
      Dedup.minhashPairs(df, "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val run = pairs(docs)
    assert(!run.plans.exists(_.nodeName == "DeserializeToObject"),
      run.plans.map(_.nodeName))
    assert(run.value == pairs(docs.repartition(n)).value)
    assert(run.value.nonEmpty)
  }

  test("minhashPairs verify-join broadcast gate is result-invariant " +
      "(broadcast path == shuffle fallback)") {
    // r15: the verification joins broadcast the candidate side when it
    // fits; with hint demotion and auto-broadcast both off, every hint
    // is stripped (each hinted side reports a known size) and the
    // shuffle fallback runs. Both paths must emit the identical pair
    // set - this pins the gate the same way the salted-path invariance
    // test pins keyPairs.
    val docs = Tables(spark, sf, "documents")
    def run() = SparkRun(spark) {
      Dedup.minhashPairs(docs, "doc_id", "text",
          shingleN = 3, bands = 16, rowsPerBand = 8, threshold = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    }
    val viaBroadcast = run()
    val fallback = Seq("graft.broadcast.demoteBytes" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = fallback.map { case (k, _) => k -> spark.conf.getOption(k) }
    fallback.foreach { case (k, v) => spark.conf.set(k, v) }
    val viaShuffle = try run() finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(verifyJoins(viaBroadcast.plans).forall(_._2 == "BroadcastHashJoin"),
      verifyJoins(viaBroadcast.plans))
    // the fallback really ran: both verify joins, neither broadcast
    val shuffled = verifyJoins(viaShuffle.plans)
    assert(shuffled.map(_._1).toSet == Set("id_a", "id_b"), shuffled)
    assert(shuffled.forall(_._2 != "BroadcastHashJoin"), shuffled)
    assert(viaBroadcast.value == viaShuffle.value,
      s"broadcast path ${viaBroadcast.value.size} pairs vs shuffle " +
        s"fallback ${viaShuffle.value.size}")
    assert(viaBroadcast.value.nonEmpty)
  }
}
