package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Multimodal, TextOps}

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  test("token counts: whitespace vs BPE-ish") {
    val df = Seq("Hello, world! This is a test.").toDF("text")
    val r = df.select(
      TextOps.tokenCount(col("text")).as("ws"),
      TextOps.bpeTokenCount(col("text")).as("bpe")).collect()(0)
    assert(r.getAs[Int]("ws") == 6)
    // Hello , world ! This is a test . → 9
    assert(r.getAs[Int]("bpe") == 9)
  }

  test("quality score is in [0,1] and favors fluent text") {
    val df = Seq(
      ("f", "the cat sat on the mat and it is a good day " * 4),
      ("g", "!!! ??? ,,, ;;; ... !!!")).toDF("id", "text")
    val m = df.select(col("id"), TextOps.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m.values.forall(q => q >= 0.0 && q <= 1.0))
    assert(m("f") > m("g"))
  }

  test("langId picks the marker-dominant language; no evidence → und") {
    val df = Seq(
      ("den", "the cat and the dog of the house"),
      ("dde", "der hund und die katze ist nicht hier"),
      ("des", "el perro que la casa los gatos una"),
      ("dfr", "le chien les chats des maisons est une"),
      ("non", "zzz yyy xxx"),
      ("tie", "the der zzz")).toDF("id", "text") // en/de tie → en (priority)
    val m = df.select(col("id"), TextOps.langId(col("text")).as("l"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("den") == "en"); assert(m("dde") == "de")
    assert(m("des") == "es"); assert(m("dfr") == "fr")
    assert(m("non") == "und") // zero marker hits → undetermined
    assert(m("tie") == "en")
  }

  test("winnowing fingerprints: identical docs share all fps; stable") {
    val df = Seq((1L, "abcdefghijklmnopqrstuvwxyz0123456789"),
      (2L, "abcdefghijklmnopqrstuvwxyz0123456789"),
      (3L, "totally different content string here padded out")).toDF("id", "t")
    val fps = TextOps.winnowingFingerprints(df, "id", "t")
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("multimodal: decodeFeatures parses headers and means body bytes") {
    // payload: PNG header (w=100, h=50) + 4 known body bytes
    val header = graft.functions.Kernels.makeMediaHeader(1, 100, 50)
    val body = Array[Byte](10, 20, 30, 40)
    val media = Seq((1L, "image", header ++ body))
      .toDF("media_id", "kind", "payload")
    assert(media.schema("payload").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val m = Multimodal.decodeFeatures(spark, media).collect().head
    assert(m.width == 100 && m.height == 50)
    assert(m.n_bytes == header.length + 4)
    assert(math.abs(m.mean_val - 25.0 / 255.0) < 1e-12)
    // no-header payload: whole thing is body, dims 0
    val raw = Multimodal.decodeFeatures(spark,
      Seq((2L, "image", Array[Byte](0, 100))).toDF("media_id", "kind", "payload"))
      .collect().head
    assert(raw.width == 0 && raw.height == 0)
    assert(math.abs(raw.mean_val - 50.0 / 255.0) < 1e-12)
  }

  test("multimodal: embedFeatures = header fields + body byte histogram") {
    // GIF header (13 bytes) + bytes landing in known 12-band buckets:
    // band = b*12/256 -> 0 (b=0..21), 5 (b=107..127), 11 (b=235..255)
    val header = graft.functions.Kernels.makeMediaHeader(4, 33, 44)
    val body = Array[Byte](0, 1, 110.toByte, 240.toByte, 250.toByte)
    val media = Seq((7L, header ++ body)).toDF("media_id", "payload")
    val v = Multimodal.embedFeatures(spark, media, dim = 16)
      .collect().head.getSeq[Float](1)
    assert(v.length == 16)
    assert(v(0) == 4f && v(1) == 33f && v(2) == 44f && v(3) == 8f)
    assert(v(4) == 2f && v(9) == 1f && v(15) == 2f)
    assert(v.map(_.toDouble).sum == 4 + 33 + 44 + 8 + 5)
    // deterministic and partition-independent (the retry-safety a real
    // batched model UDF must also hold)
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents").limit(10)
    val m2 = Multimodal.asMediaTable(docs, "doc_id", "text", "image")
    val a = Multimodal.embedFeatures(spark, m2, dim = 8).collect()
    val b = Multimodal.embedFeatures(spark, m2.repartition(5), dim = 8)
      .collect().sortBy(_.getLong(0))
    assert(a.sortBy(_.getLong(0)).map(_.getSeq[Float](1)).toSeq ==
      b.map(_.getSeq[Float](1)).toSeq)
  }

  test("frameSamplePlan explodes stride-sampled frame indices") {
    val media = Seq((1L, "x")).toDF("media_id", "payload")
    val frames = Multimodal.frameSamplePlan(media, nFrames = 10, stride = 3)
      .collect().map(_.getInt(1)).toSeq
    assert(frames == Seq(0, 3, 6, 9))
  }

  test("lineStats: duplicate-line counts and character fractions") {
    def ls(s: String): Seq[Long] = {
      val a = graft.functions.Kernels.lineStats(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      (0 until a.numElements()).map(a.getLong)
    }
    // 4 non-empty lines, "dup" twice: 1 dup occurrence of 3 chars / 13
    assert(ls("dup\nab\n\ndup\nhello") == Seq(4L, 3L, 3L, 13L))
    assert(ls("") == Seq(0L, 0L, 0L, 0L))
    assert(ls("one line only") == Seq(1L, 1L, 0L, 13L))
  }

  test("ngramRepStats: 2-gram totals, distincts, top count") {
    def rs(s: String): Seq[Long] = {
      val a = graft.functions.Kernels.ngramRepStats(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), 2)
      (0 until a.numElements()).map(a.getLong)
    }
    // grams: "a b","b a","a b","b c" → 4 total, 3 distinct, top=2
    assert(rs("a b a b c") == Seq(4L, 3L, 2L))
    assert(rs("solo") == Seq(0L, 0L, 0L))
    assert(rs("x y") == Seq(1L, 1L, 1L))
  }

  test("nfcNormalize: composes decomposed accents; identity on NFC text") {
    import org.apache.spark.unsafe.types.UTF8String
    def nfc(s: String): String =
      graft.functions.Kernels.nfcNormalize(UTF8String.fromString(s)).toString
    // decomposed e + combining acute U+0301 composes to one codepoint
    assert(nfc("cafe\u0301") == "caf\u00e9")
    assert(nfc("cafe\u0301").length == 4) // 5 chars in, 4 out
    // already-NFC input is returned as-is (same instance, no copy)
    val ascii = UTF8String.fromString("plain ascii")
    assert(graft.functions.Kernels.nfcNormalize(ascii) eq ascii)
    // idempotent, and exact-dedup digests now agree across forms
    assert(nfc(nfc("e\u0301")) == nfc("e\u0301"))
    assert(nfc("e\u0301") == nfc("\u00e9"))
  }

  test("htmlExtract: boilerplate blocks removed, payload round-trips") {
    val dir = TempDirs.create("graft_html").toString
    Seq((2L, "hello   world"), (4L, "x")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.htmlExtract(spark, dir).collect()
      .map(r => (r.getLong(0),
        (r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    // content collapses the doubled space: "hello world" = 11 chars;
    // links: 2 nav + doc_id % 3 footer
    assert(got(2L) == ("Doc 2", 11L, 4L, 1))
    assert(got(4L) == ("Doc 4", 1L, 3L, 1))
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("knBigram: hand-computed interpolated-KN table, mass sums to 1") {
    // corpus: "a b a b" + "b c" \u2192 types (a,b):2 (b,a):1 (b,c):1, NT=3
    // context a: c_v=2 n1=1; context b: c_v=2 n1=2; all n1_w = 1
    val dir = TempDirs.create("graft_kn").toString
    Seq((1L, "a b a b"), (2L, "b c")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.TextQueries.knBigram(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(3))).toMap
    // p(b|a) = (8-3)/8 + 3\u00b71\u00b71/(4\u00b72\u00b73) = 0.625 + 0.125
    assert(got == Map(("a", "b") -> 750000000000L,
      ("b", "a") -> 375000000000L, ("b", "c") -> 375000000000L))
    // unseen-continuation mass closes each context to exactly 1:
    // ctx a: 750 + 2\u00b7125 (unseen a,c) = 1000e9; ctx b: 375+375+250
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }
}
