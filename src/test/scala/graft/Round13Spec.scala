package graft


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity
import graft.ops.Similarity.ListCodec.Flat
import graft.ops.Similarity.ListLayout.ByLabelGroup

/** Round-13 contracts the driver queries cannot see directly:
  * restart recovery for the stateful 3-batch stream shapes (the cell
  * store must survive a kill between batches AND a replayed batch),
  * the labeled index's forget loop at the storage layer (physical
  * deletion, emptied-partition removal, untouched files unrewritten),
  * the compacted (label, list_grp) layout's balance and file-count
  * cap, and the clustered↔unclustered serving spectrum (the planted
  * corpus recalls ≥0.9 at nlist/8 where the uniform corpus measurably
  * cannot — the non-vacuousness of `ann_ivf_clustered`).
  */
class Round13Spec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private val sf = "/root/testdata/sf0.001"

  // ------------------------------------------------------------------
  // Task 6: restart recovery for the batch-id-keyed cell stores
  // (stream_topk / stream_dq's persistence shape). The contract:
  // killing the query between batches 2 and 3 and restarting from the
  // same checkpoint — INCLUDING the window where the last batch's
  // commit marker was lost and the batch REPLAYS — must land on cells
  // hash-equal to the uninterrupted run (writeBatchCells is
  // idempotent per batch id; counts merge by addition).
  // ------------------------------------------------------------------

  /** Split the events table into 3 deterministic single-file drops. */
  private def stageSplits(): Seq[java.io.File] = {
    val tmp = TempDirs.create("r13_stage")
    val ev = Tables(spark, sf, "events")
    (0 until 3).map { i =>
      val part = tmp.resolve(s"__p_$i")
      ev.filter(pmod(col("event_id"), lit(3)) === i)
        .coalesce(1).write.parquet(part.toString)
      val f = part.toFile.listFiles()
        .find(_.getName.startsWith("part-")).get
      val dst = tmp.resolve(f"ev_$i%04d.parquet").toFile
      assert(f.renameTo(dst))
      org.apache.commons.io.FileUtils.deleteQuietly(part.toFile)
      dst
    }
  }

  /** Run an AvailableNow pass over `inDir`, persisting per-batch
    * cells to `store` under the checkpoint at `ckpt`.
    */
  private def runCells(inDir: String, ckpt: String, store: String,
                       cellsOf: DataFrame => DataFrame): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val schema = Tables.raw(spark, sf, "events").schema
    val stream = graft.streaming.IncrementalStream
      .readAppendStream(spark, inDir, schema, maxFilesPerTrigger = Some(1))
    val q = stream.writeStream
      .foreachBatch((batch: DataFrame, id: Long) =>
        graft.ops.Manifest.writeBatchCells(cellsOf(batch), store, id))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  private def restartHarness(name: String,
                             cellsOf: DataFrame => DataFrame,
                             merged: String => Seq[Seq[Any]]): Unit = {
    val files = stageSplits()
    def mkIn(): java.io.File = {
      val d = TempDirs.create(s"r13_in_$name").toFile; d
    }
    def copyIn(dir: java.io.File, fs: Seq[java.io.File]): Unit =
      fs.foreach(f => org.apache.commons.io.FileUtils
        .copyFileToDirectory(f, dir))

    // uninterrupted reference: all 3 files, one run
    val inA = mkIn(); copyIn(inA, files)
    val ckptA = TempDirs.create(s"r13_ckA_$name").toString
    val storeA = TempDirs.create(s"r13_stA_$name").toString
    runCells(inA.toString, ckptA, storeA, cellsOf)

    // interrupted run: batches 1–2, then a kill. The restart resumes
    // from the SAME checkpoint with file 3 arrived — and we also
    // delete the newest commit marker first, forcing batch 2 to
    // REPLAY (the crash window between sink write and commit): the
    // overwrite-by-batch-id sink must absorb it.
    val inB = mkIn(); copyIn(inB, files.take(2))
    val ckptB = TempDirs.create(s"r13_ckB_$name").toString
    val storeB = TempDirs.create(s"r13_stB_$name").toString
    runCells(inB.toString, ckptB, storeB, cellsOf)
    val commits = new java.io.File(ckptB, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    val last = commits.maxBy(_.getName.toInt)
    // delete through the Hadoop FS so its checksum sibling goes too —
    // a crash before the commit write leaves NEITHER file; a bare
    // java.io delete would leave a stale .crc that poisons the
    // restart's atomic rename (FileAlreadyExistsException)
    val lfs = org.apache.hadoop.fs.FileSystem
      .getLocal(spark.sparkContext.hadoopConfiguration)
    assert(lfs.delete(
      new org.apache.hadoop.fs.Path(last.getAbsolutePath), false),
      "must be able to drop the last commit marker")
    copyIn(inB, files.drop(2))
    runCells(inB.toString, ckptB, storeB, cellsOf)

    assert(merged(storeA) == merged(storeB),
      s"$name: restarted+replayed cells diverge from the " +
        "uninterrupted run")
    // the replay really happened: the replayed batch id was written
    // twice, and the store still holds exactly 3 batch partitions
    val parts = new java.io.File(storeB).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet
    assert(parts == Set("batch=0", "batch=1", "batch=2"),
      s"$name: unexpected batch partitions $parts")
    Seq(inA, inB).foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    Seq(ckptA, ckptB, storeA, storeB).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("stream_topk cell store: kill between batches 2 and 3 + a " +
      "replayed batch recover to the uninterrupted run's cells") {
    restartHarness("topk",
      cellsOf = b => b.groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n")),
      merged = store => spark.read.parquet(store)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(col("n")).as("n"))
        .orderBy(col("event_type"), col("user_id"))
        .collect().map(_.toSeq).toSeq)
  }

  test("stream_dq cell store: kill between batches 2 and 3 + a " +
      "replayed batch recover to the uninterrupted run's cells") {
    def ruleCells(batch: DataFrame, rule: String,
                  fail: org.apache.spark.sql.Column): DataFrame =
      batch.agg(count(lit(1)).as("n_rows"),
          sum(when(fail, 1L).otherwise(0L)).as("n_fail"))
        .select(lit(rule).as("rule"), col("n_rows"),
          coalesce(col("n_fail"), lit(0L)).as("n_fail"))
    restartHarness("dq",
      cellsOf = b => ruleCells(b, "user_id_not_null",
          col("user_id").isNull)
        .unionByName(ruleCells(b, "value_in_0_50",
          col("value") < 0 || col("value") > 50)),
      merged = store => spark.read.parquet(store)
        .groupBy(col("rule"))
        .agg(sum(col("n_rows")).as("n_rows"),
          sum(col("n_fail")).as("n_fail"))
        .orderBy(col("rule"))
        .collect().map(_.toSeq).toSeq)
  }

  // ------------------------------------------------------------------
  // Task 7: the labeled index's forget loop at the storage layer.
  // ------------------------------------------------------------------

  private def lvec(axis: Int, eps: Float): Seq[Float] = {
    val v = Array.fill(4)(eps)
    v(axis) = 1f
    v.toSeq
  }

  private def lemb(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(i => (i, i % 2, lvec((i % 4).toInt, 0.01f * (i % 3))))
      .toDF("vec_id", "label", "embedding")
  }

  private val lcodebook: Array[(Long, Seq[Float])] =
    Array(0L, 1L, 2L, 3L).map(i => (i, lvec((i % 4).toInt, 0.01f * (i % 3))))

  private def lcontent(dir: String): Set[(Long, Long, Long, Long)] =
    spark.read.parquet(dir)
      .select(col("cid"), col("label").cast("long"),
        col("centroid_id").cast("long"), col("list_grp").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  private def lfiles(dir: String): Map[String, Set[String]] = {
    def walk(d: java.io.File, prefix: String): Seq[(String, Set[String])] =
      d.listFiles().filter(_.isDirectory).flatMap { sub =>
        val name = s"$prefix${sub.getName}"
        val leafFiles = sub.listFiles()
          .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        if (leafFiles.nonEmpty) Seq(name -> leafFiles.map(_.getName).toSet)
        else walk(sub, name + "/")
      }.toSeq
    walk(new java.io.File(dir), "").toMap
  }

  test("labeled forget: content equals a fresh write of survivors; " +
      "untouched (label, group) files unrewritten; fully-emptied " +
      "partitions' directories removed; staging cleaned") {
    val all = (0L until 40L)
    val base = TempDirs.create("lab_forget").toString
    Similarity.ivfIndexWrite(lemb(all), "vec_id", "embedding", base,
      lcodebook, Flat, ByLabelGroup)
    // partial forget first: ids ≡ 1 mod 8 live in list 1 (label 1,
    // group rank(1) % 2 = 1) — only partition (1, 1) is touched
    val before = lfiles(base)
    Similarity.ivfIndexMerge(spark, base, lcodebook, Flat, ByLabelGroup,
      lemb(all.filter(_ % 8 == 1)), "vec_id", "embedding", forget = true)
    val after = lfiles(base)
    for ((part, fs) <- before if !part.contains("label=1/list_grp=1"))
      assert(after(part) == fs, s"untouched partition $part rewritten")
    val survivors1 = all.filterNot(_ % 8 == 1)
    val rebuilt1 = TempDirs.create("lab_rebuild1").toString
    Similarity.ivfIndexWrite(lemb(survivors1), "vec_id", "embedding",
      rebuilt1, lcodebook, Flat, ByLabelGroup)
    assert(lcontent(base) == lcontent(rebuilt1),
      "forget content must equal a rebuild from survivors")
    assertRowGroupSorted(base)
    assert(!new java.io.File(base + ".staging").exists(),
      "staging dir must be deleted after a successful publish")
    // total forget of every odd id empties BOTH label-1 partitions:
    // their directories must be gone, label-0 untouched
    Similarity.ivfIndexMerge(spark, base, lcodebook, Flat, ByLabelGroup,
      lemb(survivors1.filter(_ % 2 == 1)), "vec_id", "embedding",
      forget = true)
    val dirs = new java.io.File(base).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("label=0"),
      s"emptied label-1 partitions must be removed, found $dirs")
    val rebuilt0 = TempDirs.create("lab_rebuild0").toString
    Similarity.ivfIndexWrite(lemb(all.filter(_ % 2 == 0)),
      "vec_id", "embedding", rebuilt0, lcodebook, Flat, ByLabelGroup)
    assert(lcontent(base) == lcontent(rebuilt0),
      "post-forget content must equal the even-id rebuild")
    // forgetting already-absent ids is a no-op on files
    val pre = lfiles(base)
    Similarity.ivfIndexMerge(spark, base, lcodebook, Flat, ByLabelGroup,
      lemb(Seq(1L)), "vec_id", "embedding", forget = true)
    // the touched partition is rewritten (same content) — content is
    // the contract, not file identity, for a non-empty touched part
    assert(lcontent(base) == lcontent(rebuilt0),
      "forgetting absent ids must not change content")
    assert(pre.keySet == lfiles(base).keySet)
  }

  /** Every leaf file of a labeled index must keep its centroid_id
    * sort — the row-group pruning the compacted layout's pushed probe
    * filter depends on; a maintenance publish that re-shuffles
    * without re-sorting silently strips the layout's second pruning
    * level (content stays equal, so only an order check catches it).
    */
  private def assertRowGroupSorted(dir: String): Unit = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
    walk(new java.io.File(dir)).foreach { f =>
      val cids = spark.read.parquet(f.getAbsolutePath)
        .select(col("centroid_id")).collect().map(_.getLong(0))
      assert(cids.sameElements(cids.sorted),
        s"${f.getName}: centroid_id unsorted — row-group pruning lost")
    }
  }

  test("labeled delta append: merged content equals a rebuild; " +
      "untouched (label, group) files unrewritten; staging cleaned") {
    val all = (0L until 40L)
    // delta = ids ≡ 1 mod 8 → only partition (label 1, group 1) is
    // touched (list 1, rank 1 % 2 groups)
    val deltaIds = all.filter(_ % 8 == 1)
    val base = TempDirs.create("lab_delta_base").toString
    Similarity.ivfIndexWrite(lemb(all.filterNot(_ % 8 == 1)),
      "vec_id", "embedding", base, lcodebook, Flat, ByLabelGroup)
    val before = lfiles(base)
    Similarity.ivfIndexMerge(spark, base, lcodebook, Flat, ByLabelGroup,
      lemb(deltaIds), "vec_id", "embedding", forget = false)
    val after = lfiles(base)
    for ((part, fs) <- before if !part.contains("label=1/list_grp=1"))
      assert(after(part) == fs, s"untouched partition $part rewritten")
    val full = TempDirs.create("lab_delta_full").toString
    Similarity.ivfIndexWrite(lemb(all), "vec_id", "embedding", full,
      lcodebook, Flat, ByLabelGroup)
    assert(lcontent(base) == lcontent(full),
      "maintained labeled index content must equal the rebuild")
    assertRowGroupSorted(base)
    assert(!new java.io.File(base + ".staging").exists(),
      "staging dir must be deleted after a successful publish")
    // empty delta: bit-level no-op
    val pre = lfiles(base)
    Similarity.ivfIndexMerge(spark, base, lcodebook, Flat, ByLabelGroup,
      lemb(Seq.empty), "vec_id", "embedding", forget = false)
    assert(lfiles(base) == pre, "empty delta must not rewrite files")
  }

  test("labeled derive: a filter-copy equals a forget of the " +
      "complement and keeps the (label, list_grp) layout") {
    val all = (0L until 40L)
    val base = TempDirs.create("lab_derive_base").toString
    Similarity.ivfIndexWrite(lemb(all), "vec_id", "embedding", base,
      lcodebook, Flat, ByLabelGroup)
    val derived = TempDirs.create("lab_derived").toString
    Similarity.ivfIndexDerive(spark, base, derived,
      col("cid") % 13 =!= 5, ByLabelGroup)
    val forgotten = TempDirs.create("lab_forgot").toString
    Similarity.ivfIndexDerive(spark, base, forgotten, lit(true), ByLabelGroup)
    Similarity.ivfIndexMerge(spark, forgotten, lcodebook, Flat, ByLabelGroup,
      lemb(all.filter(_ % 13 == 5)), "vec_id", "embedding", forget = true)
    assert(lcontent(derived) == lcontent(forgotten),
      "derive(keep) must equal forget(complement)")
    assert(lfiles(derived).keySet.forall(_.contains("list_grp=")),
      "derived index must keep the grouped layout")
  }

  // ------------------------------------------------------------------
  // Task 4: the compacted layout's balance and file-count cap.
  // ------------------------------------------------------------------

  test("listGroupOf: rank-derived groups are balanced for a strided " +
      "codebook (the id % G gcd-collapse this rule exists to avoid) " +
      "and the labeled index caps files per label at ceil(sqrt(nlist))") {
    // stride-5 sampled ids: id % 10 would collapse into {0, 5}
    val cb = (0 until 100).map(r => (r * 5L, Seq(1f))).toArray
    val g = Similarity.listGroupCount(cb.length)
    assert(g == 10)
    val sizes = cb.map { case (id, _) => Similarity.listGroupOf(cb, id) }
      .groupBy(identity).map(_._2.length)
    assert(sizes.toSet == Set(10), s"unbalanced groups: $sizes")
    // physical cap on the real corpus: ≤ |labels| × ceil(√nlist)
    // leaf dirs (vs |labels| × nlist before the compaction)
    val emb = Tables(spark, sf, "embeddings")
    val stride = Similarity.sqrtStride(emb.count())
    val codebook = Similarity.sampledCodebook(
      emb, "vec_id", "embedding", stride)
    val dir = TempDirs.create("lab_cap").toString
    Similarity.ivfIndexWrite(emb, "vec_id", "embedding",
      dir, codebook, Flat, ByLabelGroup)
    val labels = new java.io.File(dir).listFiles().filter(_.isDirectory)
    val cap = Similarity.listGroupCount(codebook.length)
    labels.foreach { l =>
      val n = l.listFiles().count(_.isDirectory)
      assert(n <= cap, s"${l.getName}: $n group dirs > cap $cap")
    }
  }

  // ------------------------------------------------------------------
  // Task 1: the clustered↔unclustered spectrum, measured both ways —
  // the planted corpus recalls ≥ 0.9 at nlist/8 where the uniform
  // corpus does not (driver-side brute replay, independent of the
  // Spark/DuckDB chains that certify the values).
  // ------------------------------------------------------------------

  private def bruteIvfRecallAtEighth(
      vecs: Map[Long, Array[Double]]): Double = {
    val n = vecs.size.toLong
    val stride = Similarity.sqrtStride(n)
    val cents = vecs.keys.filter(_ % stride == 0).toSeq.sorted.take(1 << 14)
    val nprobe = Similarity.derivedNprobe(cents.size)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var ab = 0.0; var aa = 0.0; var bb = 0.0
      for (i <- a.indices) {
        ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i)
      }
      ab / math.sqrt(aa * bb)
    }
    def ranked(v: Array[Double]): Seq[Long] =
      cents.map(c => (c, cos(v, vecs(c)))).filterNot(_._2.isNaN)
        .sortBy { case (c, s) => (-s, c) }.map(_._1)
    val assign = vecs.keys.map(id => id -> ranked(vecs(id)).head).toMap
    def round4(x: Double): Double = math.round(x * 1e4) / 1e4
    def top3(q: Long, pool: Iterable[Long]): Set[Long] =
      pool.filter(_ != q).toSeq
        .map(c => (c, round4(cos(vecs(q), vecs(c)))))
        .sortBy { case (c, s) => (-s, c) }.take(3).map(_._1).toSet
    val qids = vecs.keys.filter(_ % 20 == 0).toSeq
    val (hits, total) = qids.map { q =>
      val probed = ranked(vecs(q)).take(nprobe).toSet
      val cand = vecs.keys.filter(c => c != q && probed(assign(c)))
      val exact = top3(q, vecs.keys)
      ((top3(q, cand) & exact).size, exact.size)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    hits.toDouble / total
  }

  test("planted-cluster corpus recalls >= 0.9 at nlist/8 while the " +
      "uniform corpus stays below — the spectrum ann_ivf_clustered " +
      "certifies is real, not vacuous") {
    val uniform = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    // the generator, independently reimplemented (int64 → /1000)
    val clustered = uniform.keys.map { id =>
      id -> Array.tabulate(64) { d =>
        val center = ((id % 32) * 524287L + d * 8191L + 1L) *
          73856093L % 2039L - 1019L
        val noise = (id * 64L + d) * 19349663L % 241L - 120L
        ((center + noise).toDouble / 1000.0).toFloat.toDouble
      }
    }.toMap
    val rClustered = bruteIvfRecallAtEighth(clustered)
    val rUniform = bruteIvfRecallAtEighth(uniform)
    assert(rClustered >= 0.9,
      s"clustered recall $rClustered below the certified floor")
    assert(rUniform < 0.9,
      s"uniform recall $rUniform at nlist/8 unexpectedly clears 0.9 — " +
        "the clustered certification would be vacuous")
    // and the driver-visible rows agree
    val row = queries.ScaleQueries.queries("ann_ivf_clustered")(spark, sf)
      .head()
    assert(row.getAs[Int]("floor_met") == 1)
    assert(row.getAs[Int]("nprobe") ==
      Similarity.derivedNprobe(row.getAs[Int]("nlist")))
    val mrow = queries.ScaleQueries.queries("maxsim_ivf_clustered")(
      spark, sf).head()
    assert(mrow.getAs[Int]("floor_met") == 1)
    assert(mrow.getAs[Int]("nprobe") ==
      Similarity.derivedNprobe(mrow.getAs[Int]("nlist")))
    // the filtered budget collapse: the SAME small-fraction budget
    // serves the filtered chain on clustered data (on uniform data
    // the filtered family needs 3/4 coverage — filteredNprobe's curve)
    val frow = queries.ScaleQueries.queries("ann_filtered_clustered")(
      spark, sf).head()
    assert(frow.getAs[Int]("floor_met") == 1)
    assert(frow.getAs[Int]("nprobe") ==
      Similarity.derivedNprobe(frow.getAs[Int]("nlist")))
  }

  // ------------------------------------------------------------------
  // Task 2: the rebased dedup_canonical ships the maintained labels'
  // survivors — value-equal to a brute >= 0.7 all-pairs closure.
  // ------------------------------------------------------------------

  test("dedup_canonical (maintained labels): survivors equal the " +
      "brute all-pairs >=0.7 closure's min-id keeps") {
    val texts = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def shingles(t: String): Set[String] = {
      val toks = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    val sh = texts.map { case (id, t) => id -> shingles(t) }
    val parent = scala.collection.mutable.Map(
      texts.keys.map(i => i -> i).toSeq: _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r); r
    }
    val ids = texts.keys.toSeq.sorted
    for (a <- ids; b <- ids if b > a) {
      val inter = (sh(a) & sh(b)).size
      val uni = (sh(a) | sh(b)).size
      if (uni > 0 && inter.toDouble / uni >= 0.7) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val expectKeep = ids.filter(id => find(id) == id).toSet
    val got = queries.ScaleQueries.queries("dedup_canonical")(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == expectKeep,
      s"only-got ${(got -- expectKeep).take(3)}, " +
        s"only-expected ${(expectKeep -- got).take(3)}")
  }
}
