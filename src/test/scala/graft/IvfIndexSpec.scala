package graft


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity
import graft.ops.Similarity.ListCodec.{Flat, Pq, Sq}
import graft.ops.Similarity.ListLayout.{ByLabelGroup, ByList}

/** [[graft.ops.Similarity.ivfIndexMerge]] — the storage-layer
  * properties the driver query (`ann_ivf_delta`, set-equality of
  * served search results) cannot see: untouched lists' FILES are not
  * rewritten (the compaction is local to delta lists), and the merged
  * index CONTENT equals a rebuild row for row.
  */
class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  // four well-separated axis clusters in 4-d so assignment is stable
  private def vec(axis: Int, eps: Float): Seq[Float] = {
    val v = Array.fill(4)(eps)
    v(axis) = 1f
    v.toSeq
  }

  private def emb(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(i => (i, vec((i % 4).toInt, 0.01f * (i % 3))))
      .toDF("vec_id", "embedding")
  }

  test("append+compact: merged content equals rebuild; untouched " +
      "lists' files are not rewritten; appended vectors are served") {
    val base = TempDirs.create("ivf_base").toString
    val full = TempDirs.create("ivf_full").toString
    val all = (0L until 40L)
    // codebook: one representative per axis cluster
    val codebook = Array(0L, 1L, 2L, 3L)
      .map(i => (i, vec((i % 4).toInt, 0.01f * (i % 3))))
    // delta = the ids ≡ 1 mod 4 → ONLY list 1 is touched
    val deltaIds = all.filter(_ % 4 == 1)
    Similarity.ivfIndexWrite(emb(all.filterNot(_ % 4 == 1)), "vec_id",
      "embedding", base, codebook, Flat, ByList)
    Similarity.ivfIndexWrite(
      emb(all), "vec_id", "embedding", full, codebook, Flat, ByList)
    def files(dir: String): Map[String, Set[String]] =
      new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    val before = files(base)
    Similarity.ivfIndexMerge(spark, base, codebook, Flat, ByList,
      emb(deltaIds), "vec_id", "embedding", forget = false)
    val after = files(base)
    // untouched lists: identical file sets (not rewritten)
    for ((part, fs) <- before if part != "centroid_id=1")
      assert(after(part) == fs,
        s"untouched list $part was rewritten: $fs -> ${after(part)}")
    // touched list: compacted to a fresh file set
    assert(after("centroid_id=1") != before.getOrElse("centroid_id=1",
      Set.empty[String]), "delta list must have been rewritten")
    // content equality vs rebuild
    // partition-dir type inference reads centroid_id back as INT —
    // normalize to long for the comparison
    def content(dir: String) = spark.read.parquet(dir)
      .select(col("cid"), col("centroid_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(content(base) == content(full),
      "maintained index content must equal the rebuild")
    // a freshly appended vector is served by the maintained index
    val got = Similarity.ivfIndexedSearch(spark, base, codebook,
        qid = -1L, qlabel = None, qv = vec(1, 0f), nprobe = 1, k = 3)
      .select(col("cid")).collect().map(_.getLong(0)).toSet
    assert(got.exists(_ % 4 == 1) && got.subsetOf(all.toSet),
      s"expected list-1 members (incl. appended), got $got")
    // an EMPTY delta is a byte-level no-op — no list rewritten
    val preEmpty = files(base)
    Similarity.ivfIndexMerge(spark, base, codebook, Flat, ByList,
      emb(Seq.empty), "vec_id", "embedding", forget = false)
    assert(files(base) == preEmpty,
      "empty delta must not rewrite any list")
    // the successful append cleaned its default staging dir
    assert(!new java.io.File(base.stripSuffix("/") + ".staging").exists(),
      "staging dir must be deleted after a successful publish")
  }

  private def content(dir: String): Set[(Long, Long)] = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(dir)
      .select(col("cid"), col("centroid_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("crash consistency: staging never touches the index; a crash " +
      "in EITHER window (before publish / mid-publish with a deleted " +
      "list) recovers to the rebuilt state by re-running publish, " +
      "which is idempotent") {
    val base = TempDirs.create("ivf_cc_base").toString
    val full = TempDirs.create("ivf_cc_full").toString
    val staging = TempDirs.create("ivf_cc_stage").toString + "/s"
    val all = (0L until 40L)
    val codebook = Array(0L, 1L, 2L, 3L)
      .map(i => (i, vec((i % 4).toInt, 0.01f * (i % 3))))
    // delta touches list 1 (absent in base: a NEW partition) and
    // list 2 (existing: a rewritten partition) — both commit shapes
    val deltaIds = Seq(41L, 42L, 45L)
    Similarity.ivfIndexWrite(emb(all.filterNot(_ % 4 == 1)), "vec_id",
      "embedding", base, codebook, Flat, ByList)
    Similarity.ivfIndexWrite(
      emb(all.filterNot(_ % 4 == 1) ++ deltaIds), "vec_id", "embedding",
      full, codebook, Flat, ByList)
    val oldContent = content(base)
    // CRASH WINDOW 1: stage completes, publish never runs — the index
    // must be bit-identical to the old state (stage only READS it)
    val touched = Similarity.ivfIndexStage(spark, base, staging,
      codebook, Flat, ByList, emb(deltaIds), "vec_id", "embedding",
      forget = false)
    assert(touched.toSet == Set(Seq(1L), Seq(2L)), s"touched=${touched.toSet}")
    assert(content(base) == oldContent,
      "staging must not modify the index")
    // recovery from window 1 = run publish
    Similarity.ivfIndexPublish(spark, base, staging, ByList, touched)
    assert(content(base) == content(full),
      "published index must equal the rebuild")
    // CRASH WINDOW 2: Spark's dynamic-overwrite commit deletes a
    // partition dir before renaming its replacement in — simulate the
    // worst interleaving (a touched list momentarily ABSENT)
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(s"$base/centroid_id=2"))
    assert(content(base) != content(full), "simulated crash state")
    // recovery = re-run publish from the surviving staged copy
    Similarity.ivfIndexPublish(spark, base, staging, ByList, touched)
    assert(content(base) == content(full),
      "re-running publish must restore the merged state")
    // idempotence: publishing a third time changes nothing
    Similarity.ivfIndexPublish(spark, base, staging, ByList, touched)
    assert(content(base) == content(full), "publish must be idempotent")
  }

  test("ivfpq index: stored state is (cid, code) only — no vectors; " +
      "the ADC stage is partition-pruned to the probed lists and " +
      "reads nothing else") {
    import org.apache.spark.sql.functions.col
    val dir = TempDirs.create("ivfpq_idx").toString
    val all = (0L until 40L)
    val coarse = Array(0L, 1L, 2L, 3L)
      .map(i => (i, vec((i % 4).toInt, 0.01f * (i % 3))))
    // m=2 hand-built sub-codebooks over the 2-dim slices
    val pqCbs: Array[Array[Array[Float]]] = Array(
      Array(Array(1f, 0f), Array(0f, 1f), Array(1f, 1f)),
      Array(Array(1f, 0f), Array(0f, 1f), Array(1f, 1f)))
    Similarity.ivfIndexWrite(emb(all), "vec_id", "embedding", dir,
      coarse, Pq(pqCbs), ByList)
    // the persisted schema carries codes, never vectors
    val fields = spark.read.parquet(dir).schema.fieldNames.toSet
    assert(fields == Set("cid", "code", "centroid_id"),
      s"index must store (cid, code) partitioned by list, got $fields")
    // ADC stage plan: probed lists land in PartitionFilters (storage-
    // layer pruning) and the ONLY scan is the code index
    val adc = Similarity.ivfAdcFrame(spark, dir, Pq(pqCbs),
      qid = -1L, qv = vec(1, 0f), probes = Seq(1L), rerank = 8)
    val plan = adc.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("centroid_id"),
      s"probed lists not in PartitionFilters:\n${plan.take(2000)}")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(plan).size == 1,
      s"ADC stage must scan only the code index:\n${plan.take(2000)}")
    // end-to-end: the served neighbors come from the probed list and
    // re-rank exactly (list 1 = ids ≡ 1 mod 4)
    val raw = emb(all).select(col("vec_id").as("cid"),
      col("embedding").cast("array<float>").as("cv"))
    val got = Similarity.ivfAdcSearch(spark, dir, coarse, Pq(pqCbs),
        raw, qid = -1L, qv = vec(1, 0f), nprobe = 1, k = 3, rerank = 8)
      .collect()
    assert(got.length == 3)
    assert(got.forall(_.getLong(1) % 4 == 1),
      s"neighbors must come from the probed list, got " +
        got.map(_.getLong(1)).mkString(","))
    assert(got.map(_.getInt(3)).toSeq == Seq(1, 2, 3))
  }

  test("ivfpq append+compact: merged code content equals rebuild; " +
      "untouched code lists' files are not rewritten; empty delta " +
      "is a byte-level no-op") {
    import org.apache.spark.sql.functions.col
    val base = TempDirs.create("ivfpq_d_base").toString
    val full = TempDirs.create("ivfpq_d_full").toString
    val all = (0L until 40L)
    val coarse = Array(0L, 1L, 2L, 3L)
      .map(i => (i, vec((i % 4).toInt, 0.01f * (i % 3))))
    val pqCbs: Array[Array[Array[Float]]] = Array(
      Array(Array(1f, 0f), Array(0f, 1f), Array(1f, 1f)),
      Array(Array(1f, 0f), Array(0f, 1f), Array(1f, 1f)))
    val deltaIds = all.filter(_ % 4 == 1)
    Similarity.ivfIndexWrite(emb(all.filterNot(_ % 4 == 1)),
      "vec_id", "embedding", base, coarse, Pq(pqCbs), ByList)
    Similarity.ivfIndexWrite(emb(all), "vec_id", "embedding", full,
      coarse, Pq(pqCbs), ByList)
    def files(dir: String): Map[String, Set[String]] =
      new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    val before = files(base)
    Similarity.ivfIndexMerge(spark, base, coarse, Pq(pqCbs), ByList,
      emb(deltaIds), "vec_id", "embedding", forget = false)
    val after = files(base)
    for ((part, fs) <- before if part != "centroid_id=1")
      assert(after(part) == fs,
        s"untouched code list $part was rewritten")
    // content equality vs rebuild, CODES included — the delta rows
    // must carry the same sub-codebook assignments a rebuild computes
    def content(dir: String) = spark.read.parquet(dir)
      .select(col("cid"), col("centroid_id").cast("long"),
        col("code").cast("array<long>"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      .toSet
    assert(content(base) == content(full),
      "maintained code index must equal the rebuild, codes included")
    assert(!new java.io.File(base.stripSuffix("/") + ".staging").exists(),
      "staging dir must be deleted after a successful publish")
    val preEmpty = files(base)
    Similarity.ivfIndexMerge(spark, base, coarse, Pq(pqCbs), ByList,
      emb(Seq.empty), "vec_id", "embedding", forget = false)
    assert(files(base) == preEmpty,
      "empty delta must not rewrite any code list")
  }

  test("ivfsq append+compact: merged SQ-code content equals rebuild; " +
      "untouched lists' files are not rewritten; staging cleaned; " +
      "empty delta is a byte-level no-op") {
    import org.apache.spark.sql.functions.col
    val base = TempDirs.create("ivfsq_d_base").toString
    val full = TempDirs.create("ivfsq_d_full").toString
    val all = (0L until 40L)
    val coarse = Array(0L, 1L, 2L, 3L)
      .map(i => (i, vec((i % 4).toInt, 0.01f * (i % 3))))
    // stats are FIT-ONCE state shared by base, delta, and rebuild —
    // the contract the scaladoc documents
    val (mns, mxs) = Similarity.sqStats(emb(all), "embedding")
    val deltaIds = all.filter(_ % 4 == 1)
    Similarity.ivfIndexWrite(emb(all.filterNot(_ % 4 == 1)),
      "vec_id", "embedding", base, coarse, Sq(mns, mxs), ByList)
    Similarity.ivfIndexWrite(emb(all), "vec_id", "embedding", full,
      coarse, Sq(mns, mxs), ByList)
    def files(dir: String): Map[String, Set[String]] =
      new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    val before = files(base)
    Similarity.ivfIndexMerge(spark, base, coarse, Sq(mns, mxs), ByList,
      emb(deltaIds), "vec_id", "embedding", forget = false)
    val after = files(base)
    for ((part, fs) <- before if part != "centroid_id=1")
      assert(after(part) == fs,
        s"untouched SQ list $part was rewritten")
    // content equality vs rebuild, CODES included — the delta rows
    // must encode identically under the shared stats
    def content(dir: String) = spark.read.parquet(dir)
      .select(col("cid"), col("centroid_id").cast("long"),
        col("code").cast("array<long>"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      .toSet
    assert(content(base) == content(full),
      "maintained SQ index must equal the rebuild, codes included")
    assert(!new java.io.File(base.stripSuffix("/") + ".staging").exists(),
      "staging dir must be deleted after a successful publish")
    val preEmpty = files(base)
    Similarity.ivfIndexMerge(spark, base, coarse, Sq(mns, mxs), ByList,
      emb(Seq.empty), "vec_id", "embedding", forget = false)
    assert(files(base) == preEmpty,
      "empty delta must not rewrite any SQ list")
  }

  test("a zero-norm vector in a delta is skipped under every codec: " +
      "flat, PQ and SQ content equals a rebuild from the non-zero rows " +
      "(the labeled delta is the control)") {
    import spark.implicits._
    val all = (0L until 40L)
    val coarse = Array(0L, 1L, 2L, 3L)
      .map(i => (i, vec((i % 4).toInt, 0.01f * (i % 3))))
    val pqCbs: Array[Array[Array[Float]]] = Array(
      Array(Array(1f, 0f), Array(0f, 1f), Array(1f, 1f)),
      Array(Array(1f, 0f), Array(0f, 1f), Array(1f, 1f)))
    val (mns, mxs) = Similarity.sqStats(emb(all), "embedding")
    // NaN cosine to every centroid → no list: the vector is no index
    // resident, and must not reach the delta's touched-list collect
    val zero = Seq((999L, Seq(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val delta = emb(all.filter(_ % 4 == 1)).unionByName(zero)
    def content(dir: String, stored: String): Set[(Long, Long, String)] =
      spark.read.parquet(dir)
        .select(col("cid"), col("centroid_id").cast("long"),
          col(stored).cast("string"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSet
    for ((codec, stored) <- Seq(Flat -> "cv", Pq(pqCbs) -> "code",
        Sq(mns, mxs) -> "code")) {
      val base = TempDirs.create("ivf_zero_base").toString
      val full = TempDirs.create("ivf_zero_full").toString
      Similarity.ivfIndexWrite(emb(all.filterNot(_ % 4 == 1)), "vec_id",
        "embedding", base, coarse, codec, ByList)
      Similarity.ivfIndexWrite(emb(all), "vec_id", "embedding", full,
        coarse, codec, ByList)
      Similarity.ivfIndexMerge(spark, base, coarse, codec, ByList, delta,
        "vec_id", "embedding", forget = false)
      assert(content(base, stored) == content(full, stored),
        s"$codec: maintained index must equal the non-zero rebuild")
    }
    // control: the labeled delta already skipped the vector
    def labeled(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("label", col("vec_id") % 2)
    val base = TempDirs.create("ivf_zero_lbase").toString
    val full = TempDirs.create("ivf_zero_lfull").toString
    Similarity.ivfIndexWrite(labeled(emb(all.filterNot(_ % 4 == 1))),
      "vec_id", "embedding", base, coarse, Flat, ByLabelGroup)
    Similarity.ivfIndexWrite(labeled(emb(all)), "vec_id", "embedding", full,
      coarse, Flat, ByLabelGroup)
    Similarity.ivfIndexMerge(spark, base, coarse, Flat, ByLabelGroup,
      labeled(delta), "vec_id", "embedding", forget = false)
    assert(content(base, "cv") == content(full, "cv"),
      "labeled control: maintained index must equal the non-zero rebuild")
  }

  test("forget: content equals rebuild-from-survivors; untouched " +
      "lists' files not rewritten; an emptied list's directory is " +
      "removed; re-run is idempotent") {
    val base = TempDirs.create("ivf_fbase").toString
    val rebuilt = TempDirs.create("ivf_frebuilt").toString
    val all = (0L until 40L)
    val codebook = Array(0L, 1L, 2L, 3L)
      .map(i => (i, vec((i % 4).toInt, 0.01f * (i % 3))))
    Similarity.ivfIndexWrite(
      emb(all), "vec_id", "embedding", base, codebook, Flat, ByList)
    def files(dir: String): Map[String, Set[String]] =
      new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    val before = files(base)
    // forget ALL of list 2 plus half of list 1: list 2's directory
    // must vanish, list 1 is rewritten, lists 0 and 3 untouched
    val forgetIds = all.filter(i => i % 4 == 2 || (i % 4 == 1 && i < 20))
    Similarity.ivfIndexMerge(spark, base, codebook, Flat, ByList,
      emb(forgetIds), "vec_id", "embedding", forget = true)
    Similarity.ivfIndexWrite(
      emb(all.filterNot(forgetIds.contains)), "vec_id", "embedding",
      rebuilt, codebook, Flat, ByList)
    val after = files(base)
    assert(!after.contains("centroid_id=2"),
      "fully-forgotten list's directory must be removed")
    for (part <- Seq("centroid_id=0", "centroid_id=3"))
      assert(after(part) == before(part),
        s"untouched list $part was rewritten")
    assert(after("centroid_id=1") != before("centroid_id=1"),
      "touched list must have been rewritten")
    assert(content(base) == content(rebuilt),
      "forgotten index content must equal a rebuild from survivors")
    // no forgotten id is served, survivors still are
    val got = Similarity.ivfIndexedSearch(spark, base, codebook,
        qid = -1L, qlabel = None, qv = vec(1, 0f), nprobe = 4, k = 20)
      .select(col("cid")).collect().map(_.getLong(0)).toSet
    assert(got.intersect(forgetIds.toSet).isEmpty,
      s"forgotten ids served: ${got.intersect(forgetIds.toSet)}")
    assert(got.nonEmpty)
    // recovery contract: re-running the same forget converges (the
    // touched lists are re-staged from already-clean survivors)
    val once = content(base)
    Similarity.ivfIndexMerge(spark, base, codebook, Flat, ByList,
      emb(forgetIds), "vec_id", "embedding", forget = true)
    assert(content(base) == once, "forget must be idempotent")
    assert(!new java.io.File(base.stripSuffix("/") + ".staging").exists(),
      "staging dir must be deleted after a successful publish")
  }
}
