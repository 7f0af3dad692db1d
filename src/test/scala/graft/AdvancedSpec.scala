package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AsOfJoin, Skew}

class AdvancedSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("asofBackward: latest quote at or before each query time") {
    val quotes = Seq(
      (1L, "2024-01-01 00:00:00", 100L),
      (1L, "2024-01-03 00:00:00", 300L),
      (2L, "2024-01-02 00:00:00", 200L)
    ).toDF("k", "ts_s", "px").withColumn("ts", to_timestamp(col("ts_s")))
      .select("k", "ts", "px")
    val queries = Seq(
      (10L, 1L, "2024-01-02 00:00:00"), // between quotes → 100
      (11L, 1L, "2024-01-03 00:00:00"), // exactly at quote → 300 (inclusive)
      (12L, 1L, "2023-12-31 00:00:00"), // before all → null
      (13L, 2L, "2024-06-01 00:00:00"), // after last → 200
      (14L, 3L, "2024-01-01 00:00:00")  // unknown key → null
    ).toDF("qid", "k", "ts_s").withColumn("ts", to_timestamp(col("ts_s")))
      .select("qid", "k", "ts")
    val got = AsOfJoin.asofBackward(queries, quotes, "k", "ts", "px")
      .orderBy("qid").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toMap
    assert(got == Map(10L -> 100L, 11L -> 300L, 12L -> -1L,
      13L -> 200L, 14L -> -1L))
  }

  test("saltedJoin equals plain join, spreads hot key across salts") {
    val hot = (1 to 1000).map(i => (1L, i)) ++ Seq((2L, 1), (3L, 2))
    val probe = hot.toDF("k", "v")
    val build = Seq((1L, "a"), (2L, "b"), (4L, "d")).toDF("k", "name")
    val plain = probe.join(build, "k").select("k", "v", "name").collect().toSet
    val salted = Skew.saltedJoin(probe, build, "k", saltFactor = 8)
      .select("k", "v", "name").collect().toSet
    assert(salted == plain)
    assert(salted.size == 1001)
  }

  test("asofNearest: direction, equal-delta tie toward backward, " +
      "equal-time tie toward min tieCol, tolerance drop") {
    val right = Seq(
      (1L, 100L, 10L, "a"),  // backward, delta 3 — wins over forward
      (1L, 110L, 11L, "b"),  // forward, delta 7
      (2L, 200L, 20L, "c"),  // equal delta with the next row
      (2L, 220L, 21L, "d"),  // probe t=210: both delta 10 → backward c
      (3L, 300L, 30L, "e"),  // equal time as next
      (3L, 300L, 31L, "f"),  // probe t=300: tie → min tieCol = e
      (4L, 400L, 40L, "g")   // probe t=900: beyond tolerance → null
    ).toDF("k", "t", "id", "v")
    val left = Seq((1L, 103L), (2L, 210L), (3L, 300L), (4L, 900L))
      .toDF("k", "t")
    val got = graft.ops.AsOfJoin.asofNearest(left, right,
        keyCol = "k", timeCol = "t", payloadCol = "v", tieCol = "id",
        tolerance = Some(100L))
      .select("k", "asof_v").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(got == Map(1L -> Some("a"), 2L -> Some("c"),
      3L -> Some("e"), 4L -> None), s"got: $got")
  }

  test("house HLL estimate within 5% of exact on events") {
    val rows = queries.AdvancedQueries.approxDistinct(spark, "/root/testdata/sf0.001")
      .collect()
    rows.foreach { r =>
      val approx = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact < 0.05,
        s"${r.getString(0)}: approx=$approx exact=$exact")
    }
  }

  test("SQL surface: graft functions callable from spark.sql") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c,
                simhash64(token_hashes('hello world')) AS sh,
                size(shingle_set('a b c d e', 3)) AS ns,
                sorted_intersect_count(array(1L, 2L, 3L), array(2L, 3L, 9L)) AS ic
      """).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getInt(2) == 3)
    assert(r.getInt(3) == 2)
    // dedup over SQL end-to-end: shingle jaccard of near-identical texts
    val j = spark.sql(
      """SELECT sorted_intersect_count(a, b) / CAST(size(a) + size(b)
                 - sorted_intersect_count(a, b) AS DOUBLE) AS jac
         FROM (SELECT shingle_set('the quick brown fox jumps high', 3) AS a,
                      shingle_set('the quick brown fox jumps low', 3) AS b)
      """).collect()(0).getDouble(0)
    assert(j > 0.3 && j < 1.0)
    // round-3 functions: media header round-trip + repetition stats
    val m = spark.sql(
      """SELECT media_header(make_media_header(1, 320, 240)) AS h,
                ngram_rep_stats('a b a b c', 2) AS r
      """).collect()(0)
    assert(m.getSeq[Long](0) == Seq(1L, 320L, 240L, 8L))
    assert(m.getSeq[Long](1) == Seq(4L, 3L, 2L))
    // round-4: z-order interleave (0b11 from a=1,b=1; 0b10 from a=0,b=1)
    val z = spark.sql("SELECT zorder_key(1, 1) AS z1, zorder_key(0, 1) AS z2")
      .collect()(0)
    assert(z.getLong(0) == 3L && z.getLong(1) == 2L)
  }

  test("DemoteOversizedBroadcasts strips hints past the size bound") {
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable auto-broadcast so the HINT alone decides the strategy
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t = Tables(spark, "/root/testdata/sf0.001", "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      def planOf(demoteBytes: String): String = {
        spark.conf.set("graft.broadcast.demoteBytes", demoteBytes)
        t.as("a").join(broadcast(t.as("b")), "o_orderkey")
          .queryExecution.executedPlan.toString
      }
      // bound far above the table: hint honored
      assert(planOf((1L << 40).toString).contains("BroadcastHashJoin"))
      // bound below the table: hint demoted, planner falls back
      val demoted = planOf("1024")
      assert(!demoted.contains("BroadcastHashJoin"), demoted)
      assert(demoted.contains("SortMergeJoin"), demoted)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
      spark.conf.unset("graft.broadcast.demoteBytes")
    }
  }

  test("TopKFreq sketch: capacity-bounded state, exact when capacity suffices") {
    val agg = new functions.TopKFreq(2, 3)
    // stream with 5 distinct items through capacity 3: state never
    // exceeds capacity, heavy hitter survives
    val items = Seq.fill(50)("hot") ++ Seq("a", "b", "c", "d") ++
      Seq.fill(20)("warm")
    val buf = items.foldLeft(agg.zero)(agg.reduce)
    assert(buf.size <= 3)
    val top = agg.finish(buf)
    assert(top.head.item == "hot" && top.head.cnt >= 50)
    assert(top(1).item == "warm")
    // merge associativity on split streams (exact case)
    val (l, r) = items.splitAt(25)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
      r.foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(merged).head.item == "hot")
  }

  test("TopKFreq guarantees hold in the approximate regime, any order") {
    // capacity 3, 10 distinct items, two-level merge (Spark's
    // partial/final shape): whatever the arrival order, counters sum
    // to N, estimates only overestimate by ≤ 2N/c (N/c from the final
    // fold's min counter + ≤ N/c accumulated in re-streamed leaf
    // summaries), and true-count > 2N/c items survive
    val skews = Seq(
      (1 to 10).flatMap(i => Seq.fill(i * i)(s"it$i")),
      // one dominant item so the coverage clause is NON-vacuous:
      // true(hot) = 1000 > 2N/c = 672
      Seq.fill(1000)("hot") ++ (1 to 9).map(i => s"it$i"))
    for (base <- skews; order <- Seq(base, base.reverse,
        new scala.util.Random(7).shuffle(base))) {
      val n = base.size.toLong
      val truth = base.groupBy(identity)
        .map { case (k, v) => k -> v.size.toLong }
      val agg = new functions.TopKFreq(3, 3)
      val parts = order.grouped(math.max(1, order.size / 4)).toSeq
        .map(_.foldLeft(agg.zero)(agg.reduce))
      val buf = parts.reduce(agg.merge)
      assert(buf.values.sum == n, "counters must sum to stream length")
      buf.foreach { case (item, est) =>
        val t = truth(item)
        assert(est >= t, s"$item underestimated: $est < $t")
        assert((est - t) * 3 <= 2 * n, s"$item overestimate beyond 2N/c")
      }
      val heavy = truth.filter(_._2 * 3 > 2 * n).keys
      heavy.foreach(hh => assert(buf.contains(hh), s"heavy hitter $hh evicted"))
      if (base.contains("hot")) assert(heavy.nonEmpty && buf.contains("hot"))
    }
  }

  test("topk_freq_bound gate passes at sf0.001") {
    val r = graft.queries.AdvancedQueries
      .topkFreqBound(spark, "/root/testdata/sf0.001").collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 8L)
    (1 to 4).foreach(i => assert(r(0).getInt(i) == 1,
      s"gate flag $i failed: ${r(0)}"))
  }

  test("cms_freq: CMS invariants — est >= true, row-sums equal N") {
    val df = graft.queries.AdvancedQueries
      .cmsFreq(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every estimate overestimates (the defining CMS guarantee), and
    // the approximate regime is genuinely exercised (some collisions)
    rows.foreach { r =>
      assert(r.getLong(3) >= 0L, s"underestimate at ${r.getString(0)}")
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3))
    }
    assert(rows.exists(_.getLong(3) > 0L), "w=16 should force collisions")
    // the report keys cover the whole vocab, so sum(true) = N and any
    // single sketch row's cells also sum to N (mass conservation)
    val n = rows.map(_.getLong(2)).sum
    assert(n > 0L && rows.map(_.getLong(1)).sum >= n)
  }

  test("GraftSession.local builds a usable session") {
    // the shared test session IS a GraftSession.local session: assert
    // its production shape instead of calling the factory again (a
    // second getOrCreate would reuse it and overwrite its runtime confs)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    // graft SQL functions come from the extensions, not from
    // GraftExtensions.register: a child session (fresh function
    // registry, same extensions) resolves them
    val c = spark.newSession()
      .sql("SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F))")
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
    val rules = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.optimizer.extendedOperatorOptimizationRules
    assert(rules.exists(_.isInstanceOf[graft.plans.DemoteOversizedBroadcasts]),
      rules)
    assert(rules.exists(_.isInstanceOf[graft.plans.CollapseContainsOr]), rules)
    // the physical rule runs inside AQE, which the factory turns on
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val postPlanner = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.adaptiveRulesHolder.queryPostPlannerStrategyRules
    assert(postPlanner.exists(_.isInstanceOf[graft.plans.CoalesceSinglePartitionScan]),
      postPlanner)
  }

  /** (file name, code) of every .scala file under `root`, with
    * comments and scaladoc stripped: the source scans below check what
    * the code does, not what its comments mention.
    */
  private def sourcesUnder(root: String): Seq[(String, String)] = {
    val dir = new java.io.File(root)
    assert(dir.isDirectory, s"run from the repo root: ${dir.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(files)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    files(dir).map { f =>
      f.getName -> java.nio.file.Files.readString(f.toPath)
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("//[^\n]*", "")
    }
  }

  test("GraftSession.scala is the only source that calls SparkSession.builder") {
    // one session factory: a second builder call anywhere under src/
    // is a copy that will drift
    val builderCall = """SparkSession\s*\.\s*builder\s*\(""".r
    val callers = sourcesUnder("src").collect {
      case (name, code) if builderCall.findFirstIn(code).isDefined => name
    }
    assert(callers == Seq("GraftSession.scala"), callers)
  }

  test("no knobs in the operator layer: ops/ reads no env var or system property") {
    // an operator's behavior comes from its arguments and the session
    // confs; a process-wide knob under ops/ is a second, hidden API
    val knobRead =
      """\bsys\s*\.\s*(env|props)\b|\bSystem\s*\.\s*(getenv|getProperty)\b""".r
    val reads = sourcesUnder("src/main/scala/graft/ops").flatMap {
      case (name, code) => knobRead.findAllIn(code).map(m => s"$name: $m")
    }
    assert(reads.isEmpty, reads)
  }

  test("Memo.scala is the only memo: no hand-built version key or cache map") {
    // a memo key built outside Memo, or a second cache map in the
    // queries, is a second memo contract that will drift
    val versionedCall = """\bversioned\s*\(""".r
    val keyed = sourcesUnder("src").collect {
      case (name, code) if versionedCall.findFirstIn(code).isDefined => name
    }
    assert(keyed.sorted == Seq("Memo.scala", "Tables.scala"), keyed)
    val cacheCall =
      """SessionMemo|computeIfAbsent|getOrElseUpdate|putIfAbsent""".r
    val caches = sourcesUnder("src/main/scala/graft/queries").flatMap {
      case (name, code) => cacheCall.findAllIn(code).map(m => s"$name: $m")
    }
    assert(caches.isEmpty, caches)
  }

  test("TempDirs.scala is the only source that makes or schedules temp files") {
    // one owner for the engine's own files and the tests' ones: a temp
    // dir made anywhere else picks its own place and lifetime, and
    // leaks. This file is listed for the pattern below.
    val tempCall = """\b(createTempDirectory|createTempFile|deleteOnExit)\b""".r
    def owners(root: String) = sourcesUnder(root).collect {
      case (name, code) if tempCall.findFirstIn(code).isDefined => name
    }
    assert(owners("src/main") == Seq("TempDirs.scala"), owners("src/main"))
    assert(owners("src/test") == Seq("AdvancedSpec.scala"), owners("src/test"))
  }

  test("Similarity.scala holds exactly one partitionOverwriteMode publish") {
    // every persisted list index (flat, PQ, SQ; by list or by label
    // group) merges through one stage → publish writer: a second
    // dynamic overwrite is a copied maintenance path whose layout and
    // crash contract will drift
    val publishes = sourcesUnder("src/main/scala/graft/ops").collect {
      case ("Similarity.scala", code) =>
        "partitionOverwriteMode".r.findAllIn(code).size
    }
    assert(publishes == Seq(1), publishes)
  }

  test("no source lists files through Hadoop's located-status listing") {
    // FileSystem.listFiles(path, recursive) and listLocatedStatus build
    // a LocatedFileStatus per file, which reads its owner and mode: one
    // `ls -ld` process per file without libhadoop. Sink.dataFiles lists
    // through listStatus. java.io.File.listFiles (no or one argument)
    // stays allowed.
    val located = """\blistFiles\s*\([^()]*,|\blistLocatedStatus\b""".r
    val users = sourcesUnder("src/main").collect {
      case (name, code) if located.findFirstIn(code).isDefined => name
    }
    assert(users.isEmpty, users)
  }

  test("percentile gate: exact rank percentiles, sketch within bound") {
    val rows = graft.queries.AdvancedQueries
      .percentileBound(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getInt(3) == 1, s"sketch out of bound for ${r.getString(0)}")
      assert(r.getLong(1) <= r.getLong(2), "p50 must not exceed p90")
    }
  }

  test("z-order key clusters both dimensions (quadrant locality)") {
    // 64x64 grid; global sort by zkey then split into 4 equal rank
    // chunks = the 4 z-curve quadrants -> each chunk spans exactly
    // half the range of BOTH dims (a single-column sort would leave
    // dim b spanning the full 0..63 in every chunk)
    import graft.functions.dsl.zorder_key
    val grid = (for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong))
      .toDF("a", "b")
    val sorted = grid.select(col("a"), col("b"),
        zorder_key(col("a"), col("b")).as("z"))
      .orderBy(col("z")).collect()
    sorted.grouped(1024).foreach { chunk =>
      val as = chunk.map(_.getLong(0)); val bs = chunk.map(_.getLong(1))
      assert(as.max - as.min == 31 && bs.max - bs.min == 31)
    }
  }

  test("Scd.type2: versions, interval chaining, current flag") {
    val changes = Seq(
      (1L, "2024-01-01 00:00:00", 10L, "a"),
      (1L, "2024-01-03 00:00:00", 11L, "b"),
      (1L, "2024-01-05 00:00:00", 12L, "c"),
      (2L, "2024-02-01 00:00:00", 13L, "x"),
      // timestamp tie on key 3: the tie column (id) must decide order
      (3L, "2024-03-01 00:00:00", 15L, "late"),
      (3L, "2024-03-01 00:00:00", 14L, "early")
    ).toDF("k", "ts_s", "id", "v")
      .withColumn("ts", to_timestamp(col("ts_s"))).select("k", "ts", "id", "v")
    val out = graft.ops.Scd.type2(changes, Seq("k"), "ts", "id", Seq("v"))
      .orderBy("k", "version").collect()
    // versions are 1..n per key and each valid_to chains to the next
    // version's valid_from; exactly one current row per key
    val byKey = out.groupBy(_.getLong(0))
    assert(byKey(1L).map(_.getAs[Int]("version")).toSeq == Seq(1, 2, 3))
    byKey.values.foreach { rows =>
      rows.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[java.sql.Timestamp]("valid_to") ==
            b.getAs[java.sql.Timestamp]("valid_from"))
        case _ =>
      }
      assert(rows.count(_.getAs[Int]("is_current") == 1) == 1)
      assert(rows.last.isNullAt(rows.last.fieldIndex("valid_to")))
    }
    // the tie row with the smaller id must be version 1
    assert(byKey(3L).find(_.getAs[Int]("version") == 1).get
      .getAs[String]("v") == "early")
  }

  test("pageRankE12: mass conservation, hub outranks leaves, " +
       "partition-count invariance") {
    // star: hub 0 connected to leaves 1..8, plus a detached pair 9-10
    val directed = ((1L to 8L).map(i => (0L, i)) :+ (9L, 10L)).toDF("src", "dst")
    val edges = graft.ops.Graph.symmetrize(directed)
    val r = graft.ops.Graph.pageRankE12(edges, iters = 3)
      .orderBy("id").collect()
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r.size == 11)
    // integer truncation only loses mass: total within |V| * (iters+2)
    // of 1e12 and never above it
    val total = r.values.sum
    assert(total <= 1000000000000L && total > 1000000000000L - 11 * 600)
    // the hub concentrates rank; leaves are symmetric so all equal
    assert((1L to 8L).map(r).distinct.size == 1)
    assert(r(0L) > 4 * r(1L))
    assert(r(9L) == r(10L))
    // integer fixed-point must be bit-identical across parallelism
    val r1 = graft.ops.Graph.pageRankE12(edges.repartition(7), iters = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r1 == r)
  }

  test("CSV/JSON round-trip survives hostile strings (delimiters, " +
       "quotes, newlines, unicode)") {
    val hostile = Seq(
      (1L, "plain", 1.5),
      (2L, "comma, inside", -0.25),
      (3L, "\"quoted\" and , mixed", 0.0),
      (4L, "line\nbreak and\ttab", 1e-9),
      (5L, "unicode: αβγ 日本語 🚀", 123456.789),
      (6L, "", Double.MaxValue)
    ).toDF("k", "s", "d")
    val (nSrc, ckSrc) = graft.ops.Sink.tableChecksum(hostile)
    val out = TempDirs.create("graft_fmt_spec").toString
    // a distinct NULL token keeps empty string ≠ NULL through CSV —
    // the default read maps an empty field to NULL, silently turning
    // "" into NULL (JSON has no such ambiguity: "" is quoted, absent
    // is null)
    hostile.write.option("header", "true").option("nullValue", "\\N")
      .csv(s"$out/csv")
    hostile.write.json(s"$out/json")
    val csvBack = spark.read.schema(hostile.schema)
      .option("header", "true").option("multiLine", "true")
      .option("nullValue", "\\N").csv(s"$out/csv")
    val jsonBack = spark.read.schema(hostile.schema).json(s"$out/json")
    val (nCsv, ckCsv) = graft.ops.Sink.tableChecksum(csvBack)
    val (nJson, ckJson) = graft.ops.Sink.tableChecksum(jsonBack)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    assert(nCsv == nSrc && ckCsv.compareTo(ckSrc) == 0,
      "CSV round-trip digest mismatch")
    assert(nJson == nSrc && ckJson.compareTo(ckSrc) == 0,
      "JSON round-trip digest mismatch")
  }

  test("Merge.upsert: update/sparse-update/delete/insert/missing-delete") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val changes = Seq(
      (1L, Some("a2"), None: Option[Double], false), // sparse: bal inherited
      (2L, None: Option[String], Some(99.0), false), // sparse: name inherited
      (3L, None: Option[String], None: Option[Double], true),  // delete
      (4L, Some("d"), Some(40.0), false),            // insert
      (5L, None: Option[String], None: Option[Double], true)   // delete of missing key: no-op
    ).toDF("k", "name", "bal", "_deleted")
    val got = graft.ops.Merge.upsert(target, changes, "k")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, "a2", 10.0), (2L, "b", 99.0), (4L, "d", 40.0)))
    // missing required columns must refuse up front
    intercept[IllegalArgumentException] {
      graft.ops.Merge.upsert(target, changes.drop("bal"), "k")
    }
  }

  test("sequential CDC upsert: tombstone then re-insert, last batch wins") {
    // the stream_cdc loop distilled: apply keyed change batches in
    // order; a key tombstoned in one batch can be re-inserted by a
    // later one, and the final state is the last batch's word
    val b0 = Seq((1L, "x", 1.0, false), (2L, "y", 2.0, false))
      .toDF("k", "name", "bal", "_deleted")
    val b1 = Seq((1L, "x", 0.0, true), (3L, "z", 3.0, false))
      .toDF("k", "name", "bal", "_deleted") // 1 deleted
    val b2 = Seq((1L, "x2", 9.0, false), (3L, "z", 0.0, true))
      .toDF("k", "name", "bal", "_deleted") // 1 back, 3 gone
    val target0 = b0.limit(0).drop("_deleted")
    val fin = Seq(b0, b1, b2).foldLeft(target0)(
      (t, b) => graft.ops.Merge.upsert(t, b, "k"))
    val got = fin.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, "x2", 9.0), (2L, "y", 2.0)))
  }

  test("labelPropagation matches a reference simulation; bridge kept out") {
    // two triangles bridged at 3–10: sync LPA with min tie-break must
    // match an in-memory simulation round for round
    val directed = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("src", "dst")
    val und = graft.ops.Graph.symmetrize(directed)
    val adj = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (3L, 10L)).flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var sim = adj.keys.map(k => k -> k).toMap
    for (_ <- 1 to 3) {
      sim = adj.map { case (v, nbrs) =>
        val freq = nbrs.groupBy(sim).view.mapValues(_.size).toMap
        v -> freq.toSeq.minBy { case (lab, c) => (-c, lab) }._1
      }
    }
    val got = graft.ops.Graph.labelPropagation(und, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == sim)
    // communities separate: the two triangles end on different labels
    assert(Set(got(1L), got(2L)).size == 1 && got(1L) != got(11L))
  }

  test("kCore: peeling cascade, in-core degrees, empty core, throws") {
    // path 1-2-3 hanging off a 4-clique {10,11,12,13}: the 2-core is
    // exactly the clique, reached only after a 3-round cascade
    // (peel 1 → 2 becomes degree-1 → peel 2 → 3 degree-1 → peel 3)
    val directed = Seq((1L, 2L), (2L, 3L), (3L, 10L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (11L, 12L), (11L, 13L), (12L, 13L)).toDF("src", "dst")
    val und = graft.ops.Graph.symmetrize(directed)
    val core = graft.ops.Graph.kCore(und, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(10L -> 3L, 11L -> 3L, 12L -> 3L, 13L -> 3L))
    // k above the max degree: empty core, returned (not thrown)
    assert(graft.ops.Graph.kCore(und, k = 5).count() == 0L)
    // partition-count invariance
    val core7 = graft.ops.Graph.kCore(und.repartition(7), k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core7 == core)
    // a too-small round budget must refuse, not return a superset
    intercept[IllegalStateException] {
      graft.ops.Graph.kCore(und, k = 2, maxRounds = 2)
    }
  }

  test("bfsHops: min-hop labels, depth bound, disconnected excluded") {
    // path 1-2-3-4-5 plus a shortcut 1-4 and an island {100,101}:
    // from seed {1}, node 4 is 2 hops via the shortcut (not 3 via the
    // path), 5 is 3 hops; the island is absent at any bound
    val directed = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (1L, 4L), (100L, 101L)).toDF("src", "dst")
    val und = graft.ops.Graph.symmetrize(directed)
    val seeds = Seq(1L).toDF("id")
    val hops = graft.ops.Graph.bfsHops(und, seeds, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hops == Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2))
    // depth bound honored: at maxHops=1 only the direct neighborhood
    val h1 = graft.ops.Graph.bfsHops(und, seeds, maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(h1 == Map(1L -> 0, 2L -> 1, 4L -> 1))
    // a seed on the island stays on the island; multi-source takes
    // the min hop over seeds
    val multi = graft.ops.Graph.bfsHops(und, Seq(1L, 100L).toDF("id"), 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(multi == Map(1L -> 0, 100L -> 0, 2L -> 1, 4L -> 1, 101L -> 1))
    // maxHops=0: seeds only
    assert(graft.ops.Graph.bfsHops(und, seeds, 0)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq == Seq((1L, 0)))
  }

  test("triangle count: both orientations agree on a hub graph") {
    // hub 0 fans out to 1..10 (id orientation puts ALL wedges on the
    // hub); triangles: (0,1,2) through the hub and (11,12,13) apart.
    // Edges listed id_a < id_b, duplicate-free.
    val edges = (((1L to 10L).map(i => (0L, i)) :+ (1L, 2L)) ++
      Seq((11L, 12L), (11L, 13L), (12L, 13L))).toDF("id_a", "id_b")
    val byId = graft.ops.Graph.triangleCountIdOriented(edges)
      .head().getLong(0)
    val byDeg = graft.ops.Graph.triangleCountDegreeOriented(edges)
      .head().getLong(0)
    assert(byId == 2L)
    assert(byDeg == 2L)
    // partition-count invariance (the orientation is a total order,
    // not an arrival order)
    assert(graft.ops.Graph.triangleCountDegreeOriented(
      edges.repartition(7)).head().getLong(0) == 2L)
    // triangle-free star: zero from both
    val star = (1L to 10L).map(i => (0L, i)).toDF("id_a", "id_b")
    assert(graft.ops.Graph.triangleCountIdOriented(star)
      .head().getLong(0) == 0L)
    assert(graft.ops.Graph.triangleCountDegreeOriented(star)
      .head().getLong(0) == 0L)
  }

  test("BloomPrune: superset of exact matches, bounded false positives") {
    val fact = (1L to 20000L).map(i => (i, i % 1000)).toDF("row_id", "k")
    val dim = Seq(3L, 7L, 42L, 999L).toDF("dk")
    val pruned = graft.ops.BloomPrune.bloomSemiFilter(
      fact, col("k"), dim, col("dk"), expectedItems = 1000)
    val got = pruned.select("row_id").as[Long].collect().toSet
    val exact = fact.join(dim, col("k") === col("dk"), "left_semi")
      .select("row_id").as[Long].collect().toSet
    assert(exact.subsetOf(got), "bloom filter dropped a true match")
    // 3% target fpp over 996 non-member keys -> generous 10% ceiling
    assert(got.size - exact.size <= (20000 - exact.size) / 10)
    // bound enforcement
    intercept[IllegalArgumentException] {
      graft.ops.BloomPrune.buildFilter(dim, col("dk"),
        graft.ops.BloomPrune.MaxExpectedItems + 1)
    }
  }

  test("FuzzyJoin: exactly the edit-distance<=1 pairs, incl. dist 0") {
    val names = Seq(
      (1L, "kitten"), (2L, "kittex"),   // substitution -> 1
      (3L, "kitte"),                    // deletion of 1 -> 1
      (4L, "kittens"),                  // insertion -> 1
      (5L, "sitting"),                  // distance 3 from kitten
      (6L, "kitten"),                   // exact duplicate of id 1
      (7L, "xyz")
    ).toDF("id", "name")
    val got = graft.ops.FuzzyJoin.editDistance1Pairs(names, "id", "name")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute-force oracle over the same rows
    val rows = names.as[(Long, String)].collect()
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expect = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib && lev(sa, sb) <= 1
    } yield (ia, ib)).toSet
    assert(got == expect)
    assert(got.contains((1L, 6L)) && !got.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("triangle counting closes ordered wedges exactly once") {
    // K4 on 1..4 (4 triangles) + a dangling edge + an open wedge
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (6L, 7L), (6L, 8L)).toDF("id_a", "id_b")
    val e1 = edges.select(col("id_a").as("a"), col("id_b").as("b"))
    val e2 = edges.select(col("id_a").as("b"), col("id_b").as("c"))
    val closed = e1.join(e2, Seq("b"))
      .join(edges.select(col("id_a").as("a"), col("id_b").as("c")),
        Seq("a", "c"), "left_semi")
    assert(closed.count() == 4)
  }

  test("GapFill: complete grid, last-obs-wins, forward fill, span guard") {
    val ev = Seq(
      // key 1: obs on day 1 (two events - later one wins) and day 4
      (1L, "2024-01-01 08:00:00", 10L, 1.0),
      (1L, "2024-01-01 18:00:00", 11L, 2.0),
      (1L, "2024-01-04 12:00:00", 12L, 7.0),
      // key 2: single day
      (2L, "2024-02-10 00:00:00", 13L, 5.0)
    ).toDF("k", "ts_s", "eid", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val out = graft.ops.GapFill.dailyForwardFill(ev, "k", "ts", "eid", "value")
      .orderBy("k", "day_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val day = 86400000000L // µs
    val d0 = java.time.LocalDate.parse("2024-01-01")
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L
    // key 1: 4 consecutive days; days 2-3 carry day 1's LAST value
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, d0, 2.0, 1), (1L, d0 + day, 2.0, 0),
      (1L, d0 + 2 * day, 2.0, 0), (1L, d0 + 3 * day, 7.0, 1)))
    assert(out.count(_._1 == 2L) == 1 && out.filter(_._1 == 2L).head._3 == 5.0)
    // span guard fails loudly instead of exploding the grid
    val wide = Seq(
      (9L, "2020-01-01 00:00:00", 1L, 1.0),
      (9L, "2024-01-01 00:00:00", 2L, 2.0)
    ).toDF("k", "ts_s", "eid", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val ex = intercept[Exception] {
      graft.ops.GapFill.dailyForwardFill(wide, "k", "ts", "eid", "value",
        maxDays = 30).collect()
    }
    assert(ex.getMessage != null)
  }

  test("tableDiff classifies added/removed/changed/unchanged per key") {
    val before = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("k", "s", "v")
    val after = Seq((2L, "b", 20), (3L, "c", 31), (4L, "d", 40))
      .toDF("k", "s", "v")
    val got = graft.ops.Sink.tableDiff(before, after, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
    // column order must not matter (digest over sorted value columns)
    val got2 = graft.ops.Sink.tableDiff(
      before, after.select("v", "k", "s"), Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(got2 == got)
  }

  test("tableChecksum: layout-invariant, value-sensitive") {
    val df = (1L to 5000L).map(i => (i, s"name$i", i * 1.5)).toDF("id", "s", "x")
    val (n1, c1) = graft.ops.Sink.tableChecksum(df)
    val (n2, c2) = graft.ops.Sink.tableChecksum(
      df.repartition(17).sortWithinPartitions(col("s").desc))
    assert(n1 == 5000L && n2 == n1 && c1 == c2)
    // flipping a single value must change the digest
    val tweaked = df.withColumn("x",
      when(col("id") === 42L, col("x") + 1e-9).otherwise(col("x")))
    val (_, c3) = graft.ops.Sink.tableChecksum(tweaked)
    assert(c3 != c1)
    // null-position sensitivity: bare multi-arg xxhash64 folds NULL as
    // a no-op, so ('v', NULL) and (NULL, 'v') would collide without
    // the per-column pre-hash layer
    val nl = Seq((1L, Option("v"), Option.empty[String]))
      .toDF("k", "c1", "c2")
    val nr = Seq((1L, Option.empty[String], Option("v")))
      .toDF("k", "c1", "c2")
    assert(graft.ops.Sink.tableChecksum(nl)._2 !=
      graft.ops.Sink.tableChecksum(nr)._2)
    assert(graft.ops.Sink.tableDiff(nl, nr, Seq("k"))
      .select("status").as[String].head() == "changed")
  }

  test("zorderedSave writes the requested file count and round-trips") {
    val dir = TempDirs.create("zord").toString
    val df = (for (a <- 0 until 32; b <- 0 until 32) yield (a.toLong, b.toLong))
      .toDF("a", "b")
    graft.ops.Sink.zorderedSave(df, "a", "b", s"$dir/t", files = 4)
    val files = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4)
    val back = spark.read.parquet(s"$dir/t")
    assert(back.count() == 1024)
    assert(back.columns.sorted.toSeq == Seq("a", "b"))
  }

  test("Expectations: violation counts on a deliberately dirty frame") {
    import graft.ops.Expectations._
    val dirty = Seq(
      (Option(1L), Option("a"), 5.0),
      (Option(1L), Option("b"), -1.0),   // dup id, below range
      (Option.empty[Long], Option("zz"), 7.0), // null id, bad code
      (Option(2L), Option.empty[String], 900.0) // above range, null code ok
    ).toDF("id", "code", "v")
    val rep = evaluate("t", dirty, Seq(
        notNull("id"),
        between("v", lit(0.0), lit(100.0)),
        inSet("code", Seq("a", "b"))),
      uniqueCols = Seq("id"))
      .collect().map(r => (r.getString(1), r.getString(2)) ->
        (r.getLong(3), r.getBoolean(4))).toMap
    assert(rep(("id", "not_null")) == (1L, false))
    assert(rep(("v", "between")) == (2L, false))
    assert(rep(("code", "in_set")) == (1L, false))
    assert(rep(("id", "unique")) == (1L, false))
    // fk orphans: 3 and 9 have no dim match; null key is not an orphan
    val fact = Seq(Option(1L), Option(3L), Option(9L), Option.empty[Long])
      .toDF("k")
    val dim = Seq(1L, 2L).toDF("dk")
    val fk = fkOrphans("f", fact, "k", dim, "dk").collect().head
    assert(fk.getLong(3) == 2L && !fk.getBoolean(4))
  }

  test("mergeAggStates: merged state equals full recompute, any split") {
    import graft.ops.Incremental
    val rows = (1 to 300).map(i => (i % 7L, i.toLong, i * 3L))
    val df = rows.toDF("g", "v", "w")
    def state(d: org.apache.spark.sql.DataFrame) =
      Incremental.aggState(d, Seq("g"), Seq(
        count(lit(1)).as("cnt"), sum(col("v")).as("sum_v"),
        min(col("w")).as("min_w"), max(col("w")).as("max_w")))
    val merges = Seq(
      sum(col("cnt")).as("cnt"), sum(col("sum_v")).as("sum_v"),
      min(col("min_w")).as("min_w"), max(col("max_w")).as("max_w"))
    val full = state(df).orderBy("g").collect().toSeq
    // 2-way split on a predicate
    val two = Incremental.mergeAggStates(
      Seq(state(df.filter(col("v") <= 100)),
        state(df.filter(col("v") > 100))), Seq("g"), merges)
      .orderBy("g").collect().toSeq
    assert(two == full)
    // 3-way split where one side is empty for some groups
    val three = Incremental.mergeAggStates(
      Seq(state(df.filter(col("v") <= 5)),
        state(df.filter(col("v") > 5 && col("v") <= 200)),
        state(df.filter(col("v") > 200))), Seq("g"), merges)
      .orderBy("g").collect().toSeq
    assert(three == full)
  }

  test("agg_incremental query: maintenance matches full recompute") {
    val dir = "/root/testdata/sf0.001"
    val got = queries.AdvancedQueries.aggIncremental(spark, dir).collect()
    assert(got.nonEmpty)
    // recompute directly (no split) with the same projection
    val orders = Tables(spark, dir, "orders").select(
      date_trunc("month", col("o_orderdate")).cast("date").as("month"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      col("o_totalprice").as("p"))
    val full = orders.groupBy("month").agg(
        count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents"),
        min(col("p")).as("min_price"), max(col("p")).as("max_price"))
      .select(col("month"), col("cnt"), col("sum_cents"),
        expr("sum_cents DIV cnt").as("avg_cents"),
        col("min_price"), col("max_price"))
      .orderBy("month").collect()
    assert(got.toSeq == full.toSeq)
  }

  test("Ema.smooth: hand trajectory incl. truncation, key reset, " +
      "(us, event_id) tie-break; partitioning-invariant") {
    import spark.implicits._
    // user 1: 300 → (1·200 + 3·300)/4 = 275 → (1·100 + 3·275)/4 = 231
    // (exercises trunc: 925/4 = 231.25); two rows share us=2, so the
    // event_id tiebreak decides which is step 2 vs 3
    // user 2: a single event smooths to itself
    val df = Seq(
      (1L, 1L, 10L, 300L), (1L, 2L, 11L, 200L), (1L, 2L, 12L, 100L),
      (2L, 1L, 20L, 7L))
      .toDF("user_id", "us", "event_id", "v_e6")
    val got = graft.ops.Ema.smooth(df, 1, 4)
      .orderBy("user_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 1L, 10L, 300L), (1L, 2L, 11L, 275L), (1L, 3L, 12L, 231L),
      (2L, 1L, 20L, 7L)))
    val gotP = graft.ops.Ema.smooth(df.repartition(5), 1, 4)
      .orderBy("user_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(gotP.toSeq == got.toSeq,
      "the secondary sort must make the recurrence layout-independent")
  }

  test("Ema.holtLinear: hand trajectory with NEGATIVE-trend " +
      "truncation (Scala / truncates toward zero, so -25/8 = -3, " +
      "-67/8 = -8 — floor would give -4/-9); partitioning-invariant") {
    import spark.implicits._
    // α = 1/4, β = 1/8, falling series 300 → 200 → 100:
    //  rn2: lev = (200 + 3·300)/4 = 275, tr = (275-300)/8 = -3
    //  rn3: lev = (100 + 3·(275-3))/4 = 916/4 = 229,
    //       tr = ((229-275) + 7·(-3))/8 = -67/8 = -8
    val df = Seq(
      (1L, 1L, 10L, 300L), (1L, 2L, 11L, 200L), (1L, 3L, 12L, 100L),
      (2L, 1L, 20L, 7L))
      .toDF("user_id", "us", "event_id", "v_e6")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Ema.holtLinear(d, 1, 4, 1, 8)
        .orderBy("user_id", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(4),
          r.getLong(5), r.getLong(6)))
    val got = run(df)
    assert(got.toSeq == Seq(
      (1L, 1L, 300L, 0L, 300L), (1L, 2L, 275L, -3L, 272L),
      (1L, 3L, 229L, -8L, 221L), (2L, 1L, 7L, 0L, 7L)))
    assert(run(df.repartition(5)).toSeq == got.toSeq,
      "the secondary sort must make the recurrence layout-independent")
  }

  test("Ema.anomaly: causal flag — the spike is flagged against the " +
      "PRIOR state and only desensitizes LATER tests; warm-up rows " +
      "train but never flag; partitioning-invariant") {
    import spark.implicits._
    // α = 1/4, k = 5/2, floor 10, warm-up 1, series 100 100 200 104:
    //  rn2: d=0,   2·0   > 5·0  + 20 ? no  → dev 0,  ema 100
    //  rn3: d=100, 2·100 > 5·0  + 20 ? YES → dev 25, ema 125
    //  rn4: d=21,  2·21  > 5·25 + 20 ? no  → dev 24, ema 119
    val df = Seq(
      (1L, 1L, 10L, 100L), (1L, 2L, 11L, 100L), (1L, 3L, 12L, 200L),
      (1L, 4L, 13L, 104L))
      .toDF("user_id", "us", "event_id", "v_e6")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Ema.anomaly(d, 1, 4, 5, 2, minDevE6 = 10L, warmup = 1L)
        .orderBy("user_id", "rn").collect()
        .map(r => (r.getLong(1), r.getLong(4), r.getLong(5), r.getInt(6)))
    val got = run(df)
    assert(got.toSeq == Seq(
      (1L, 100L, 0L, 0), (2L, 100L, 0L, 0), (3L, 125L, 25L, 1),
      (4L, 119L, 24L, 0)))
    assert(run(df.repartition(5)).toSeq == got.toSeq,
      "the secondary sort must make the recurrence layout-independent")
    // warm-up: the same series with warmup = 3 never flags rn 3
    val gotW = graft.ops.Ema.anomaly(df, 1, 4, 5, 2, 10L, warmup = 3L)
      .orderBy("user_id", "rn").collect().map(_.getInt(6))
    assert(gotW.toSeq == Seq(0, 0, 0, 0))
  }

  test("Spatial: cell-boundary completeness — a diagonal-cell pair at " +
      "dist²=2 and an exactly-at-radius pair are found; beyond-radius " +
      "candidates in adjacent cells are verified away") {
    import spark.implicits._
    val d = 1200L
    val pts = Seq(
      (20L, 1200L, 1200L), // query (cell 1,1)
      (1L, 1199L, 1199L),  // diagonal cell (0,0), dist² = 2
      (2L, 2400L, 1200L),  // dist = D exactly (inclusive boundary)
      (3L, 2401L, 1200L),  // dist = D+1 — candidate, must verify away
      (4L, 0L, 2400L),     // adjacent cell, dist² = 2·1200² > D²
      (5L, 5000L, 5000L))  // far — never a candidate
      .toDF("id", "x", "y")
    val pairs = graft.ops.Spatial.radiusPairs(pts, d)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // (2, 3) are distance 1 apart — a real pair within the same cell
    assert(pairs == Seq((1L, 20L, 2L), (2L, 3L, 1L), (2L, 20L, d * d)),
      s"got $pairs")
    val knn = graft.ops.Spatial.knnWithinRadius(pts,
        pmod(col("id"), lit(20)) === 0, d, k = 3)
      .orderBy("qid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq
    assert(knn == Seq((20L, 1L, 2L, 1), (20L, 2L, d * d, 2)), s"got $knn")
  }
}
