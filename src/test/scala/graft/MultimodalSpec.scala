package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Kernels
import graft.functions.dsl._

/** Media container-header parsing: synthesize→parse round-trip, a
  * cross-check against REAL codec bytes (javax.imageio encodes actual
  * images; the parser must read their headers), and garbage safety.
  */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def parse(b: Array[Byte]): Seq[Long] = {
    val a = Kernels.parseMediaHeader(b)
    (0 until a.numElements()).map(a.getLong)
  }

  test("parse inverts the synthesized header for every format") {
    val depths = Map(1 -> 8L, 2 -> 8L, 3 -> 24L, 4 -> 8L)
    for (fmt <- 1 to 4; (w, h) <- Seq((16, 16), (640, 480), (513, 27)))
      assert(parse(Kernels.makeMediaHeader(fmt, w, h)) ==
        Seq(fmt.toLong, w.toLong, h.toLong, depths(fmt)),
        s"fmt=$fmt w=$w h=$h")
  }

  test("parser reads headers written by a real codec (javax.imageio)") {
    import java.awt.image.BufferedImage
    val fmtCodes = Map("png" -> 1L, "jpg" -> 2L, "bmp" -> 3L, "gif" -> 4L)
    for ((fmtName, code) <- fmtCodes; (w, h) <- Seq((31, 17), (128, 64))) {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      img.setRGB(1, 1, 0x336699)
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmtName, out),
        s"no JDK writer for $fmtName")
      val parsed = parse(out.toByteArray)
      assert(parsed(0) == code && parsed(1) == w && parsed(2) == h,
        s"$fmtName $w x $h -> $parsed")
    }
  }

  test("synthesized JPEG SOF0 declares lengths a strict decoder accepts") {
    // walk the segment chain the way an external decoder does: every
    // declared segment length must be fully present, and the SOF0
    // component count must match the encoded component specs
    // (len = 8 + 3 * nComp)
    val b = Kernels.makeMediaHeader(2, 640, 480)
    assert((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8)
    var i = 2
    var sawSof = false
    while (i + 4 <= b.length) {
      assert((b(i) & 0xff) == 0xff, s"expected marker at $i")
      val marker = b(i + 1) & 0xff
      val len = ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
      assert(i + 2 + len <= b.length,
        s"segment 0x${marker.toHexString} declares $len but buffer ends")
      if (marker == 0xc0) {
        sawSof = true
        val nComp = b(i + 9) & 0xff
        assert(len == 8 + 3 * nComp, s"SOF0 len=$len nComp=$nComp")
      }
      i += 2 + len
    }
    assert(sawSof && i == b.length, s"sof=$sawSof end=$i len=${b.length}")
  }

  test("garbage, truncated, and null payloads are safe") {
    assert(parse(Array[Byte](1, 2, 3)) == Seq(0L, 0L, 0L, 0L))
    assert(parse("not an image at all".getBytes) == Seq(0L, 0L, 0L, 0L))
    assert(parse(Kernels.makeMediaHeader(1, 100, 100).take(12)) ==
      Seq(0L, 0L, 0L, 0L))
    // JPEG SOI + APP segment but no SOF → recognized, dims 0
    assert(parse(Array(0xff, 0xd8, 0xff, 0xe0, 0x00, 0x04, 0x00, 0x00,
      0xff, 0xd9).map(_.toByte)) == Seq(2L, 0L, 0L, 0L))
    // null payload → null out (expression-level null handling)
    import spark.implicits._
    val row = Seq((1L, null: Array[Byte])).toDF("id", "payload")
      .select(media_header(col("payload"))).collect().head
    assert(row.isNullAt(0))
  }

  test("decode/embed features are TOTAL over hostile payloads " +
      "(fuzz: random bytes, truncated headers, empty, null)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // a BMP declaring width = Int.MinValue (signed le32) and a PNG
    // declaring width = 2^32−1: dimension fields must come out
    // non-negative and non-wrapping, by construction not by seed luck
    val evilBmp = Kernels.makeMediaHeader(3, 9, 9).clone()
    evilBmp(18) = 0; evilBmp(19) = 0; evilBmp(20) = 0
    evilBmp(21) = 0x80.toByte
    val evilPng = Kernels.makeMediaHeader(1, 9, 9).clone()
    evilPng(16) = 0xff.toByte; evilPng(17) = 0xff.toByte
    evilPng(18) = 0xff.toByte; evilPng(19) = 0xff.toByte
    val hostile: Seq[Array[Byte]] =
      (0 until 64).map(n => Array.fill(n)(rnd.nextInt(256).toByte)) ++
        Seq(Array.emptyByteArray,
          Kernels.makeMediaHeader(1, 9, 9).take(12),  // truncated PNG
          Kernels.makeMediaHeader(3, 9, 9).take(20),  // truncated BMP
          Array(0xff, 0xd8, 0xff).map(_.toByte),      // bare JPEG SOI
          evilBmp, evilPng,
          null)
    val media = hostile.zipWithIndex
      .map { case (p, i) => (i.toLong, "image", p) }
      .toDF("media_id", "kind", "payload")
    val metas = graft.ops.Multimodal.decodeFeatures(spark, media).collect()
    assert(metas.length == hostile.length)
    metas.foreach { m =>
      assert(m.mean_val >= 0.0 && m.mean_val <= 1.0)
      assert(m.width >= 0 && m.height >= 0)
    }
    val embs = graft.ops.Multimodal
      .embedFeatures(spark, media.select("media_id", "payload"), dim = 16)
      .collect()
    assert(embs.length == hostile.length)
    embs.foreach { r =>
      val v = r.getSeq[Float](1)
      assert(v.length == 16)
      assert(v.forall(x => !x.isNaN && x >= 0f))
      // histogram bands sum to the body byte count (whole payload for
      // unrecognized formats) — conservation, not just non-crash
      val id = r.getLong(0)
      val payload = hostile(id.toInt)
      if (payload != null) {
        val h = Kernels.parseMediaHeader(payload)
        val off = Kernels.mediaBodyOffset(h.getLong(0))
        val body = math.max(0, payload.length - off)
        assert(v.drop(4).map(_.toLong).sum == body,
          s"row $id: bands ${v.drop(4).sum} != body $body")
      }
    }
  }

  test("codegen decode/embed paths are bit-equal to the batched " +
      "(codec/model swap-point) paths, hostile payloads included") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val payloads: Seq[Array[Byte]] =
      (1 to 4).flatMap(fmt => Seq(
        Kernels.makeMediaHeader(fmt, 31, 17) ++
          Array.fill(100)(rnd.nextInt(256).toByte),
        Kernels.makeMediaHeader(fmt, 9, 9))) ++
        Seq(Array.emptyByteArray, "plain text payload".getBytes,
          Array.fill(64)(rnd.nextInt(256).toByte),
          Kernels.makeMediaHeader(1, 9, 9).take(12), null)
    val media = payloads.zipWithIndex
      .map { case (p, i) => (i.toLong, "image", p) }
      .toDF("media_id", "kind", "payload")
    val mm = graft.ops.Multimodal
    val d1 = mm.decodeFeatures(spark, media).collect().sortBy(_.media_id)
    val d2 = mm.decodeFeaturesBatched(spark, media).collect()
      .sortBy(_.media_id)
    assert(d1.toSeq == d2.toSeq)
    def embRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toList)).sortBy(_._1).toSeq
    val e1 = embRows(mm.embedFeatures(spark,
      media.select("media_id", "payload"), dim = 16))
    val e2 = embRows(mm.embedFeaturesBatched(spark,
      media.select("media_id", "payload"), dim = 16))
    assert(e1 == e2)
    // and the codegen path really is a scan-stage Project (no
    // SerializeFromObject / MapPartitions in the plan)
    val plan = mm.embedFeatures(spark,
        media.select("media_id", "payload"), dim = 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("MapPartitions") &&
      !plan.contains("SerializeFromObject"), plan)
  }

  test("headerMeta extracts real dimensions through the DataFrame API") {
    import spark.implicits._
    val media = Seq(
      (1L, "image", Kernels.makeMediaHeader(1, 800, 600)),
      (2L, "image", Kernels.makeMediaHeader(3, 320, 200)),
      (3L, "image", "junk".getBytes))
      .toDF("media_id", "kind", "payload")
    val got = graft.ops.Multimodal.headerMeta(media)
      .orderBy("media_id")
      .select("format_code", "width", "height")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 800L, 600L), (3L, 320L, 200L), (0L, 0L, 0L)))
  }

  // ------------------------------------------------------------ audio

  private def parseAudio(b: Array[Byte]): Seq[Long] = {
    val a = Kernels.parseAudioHeader(b)
    (0 until a.numElements()).map(a.getLong)
  }

  test("new kernels are reachable through the SQL function surface") {
    // NOTE: Spark's chr() is mod-256 ASCII (unlike DuckDB's codepoint
    // chr), so the combining acute rides in as a string literal
    val acute = "́"
    val r = spark.sql(
      s"""SELECT audio_header(make_audio_header(1, 16000, 2, 16, 100)) AS a,
                 nfc_normalize('cafe$acute') AS n""").head()
    assert(r.getSeq[Long](0) == Seq(1L, 16000L, 2L, 16L, 100L))
    assert(r.getString(1) == "café")
  }

  test("audio parse inverts the synthesized header for WAV and FLAC") {
    for {
      fmt <- Seq(1, 2)
      (rate, ch, bits) <- Seq((8000, 1, 16), (44100, 2, 16), (48000, 2, 24))
      frames <- Seq(0L, 1L, 480000L)
    } assert(
      parseAudio(Kernels.makeAudioHeader(fmt, rate, ch, bits, frames)) ==
        Seq(fmt.toLong, rate.toLong, ch.toLong, bits.toLong, frames),
      s"fmt=$fmt rate=$rate ch=$ch bits=$bits frames=$frames")
  }

  test("WAV parser reads files written by a real codec (javax.sound)") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    for ((rate, ch, bits, frames) <- Seq((16000, 1, 16, 1234),
        (44100, 2, 16, 777))) {
      val af = new AudioFormat(rate.toFloat, bits, ch, true, false)
      val pcm = new Array[Byte](frames * ch * bits / 8)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(
        new AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), af, frames.toLong),
        AudioFileFormat.Type.WAVE, out)
      assert(parseAudio(out.toByteArray) ==
        Seq(1L, rate.toLong, ch.toLong, bits.toLong, frames.toLong),
        s"rate=$rate ch=$ch bits=$bits frames=$frames")
    }
  }

  test("WAV chunk walk skips interposed chunks and survives garbage") {
    // fmt arriving AFTER a LIST chunk (common in tagged files)
    val fmtData = Kernels.makeAudioHeader(1, 22050, 1, 16, 100)
    val list = java.nio.ByteBuffer.allocate(12 + 10)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    list.put("RIFF".getBytes).putInt(0).put("WAVE".getBytes)
    list.put("LIST".getBytes.take(0))
    val tagged = java.nio.ByteBuffer
      .allocate(12 + 8 + 6 + 32) // 6-byte odd-padded LIST then fmt+data
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tagged.put(fmtData, 0, 12)            // RIFF....WAVE
    tagged.put("LIST".getBytes).putInt(5) // odd size → 1 pad byte
      .put(Array[Byte]('I', 'N', 'F', 'O', 'x', 0))
    tagged.put(fmtData, 12, 32)           // fmt + data headers
    assert(parseAudio(tagged.array()) == Seq(1L, 22050L, 1L, 16L, 100L))

    assert(parseAudio("RIFFjunk".getBytes) == Seq(0L, 0L, 0L, 0L, 0L))
    assert(parseAudio(Array[Byte](1, 2, 3)) == Seq(0L, 0L, 0L, 0L, 0L))
    assert(parseAudio(Kernels.makeAudioHeader(2, 44100, 2, 16, 10).take(20))
      == Seq(0L, 0L, 0L, 0L, 0L))
    // hostile chunk size (u32 wrap) must terminate, not loop
    val hostile = Kernels.makeAudioHeader(1, 8000, 1, 16, 10)
    hostile(16) = 0xff.toByte; hostile(17) = 0xff.toByte
    hostile(18) = 0xff.toByte; hostile(19) = 0xff.toByte
    parseAudio(hostile) // must return, value unspecified
  }

  test("WAV chunk sizes in the Int-overflow window never throw") {
    // A declared size just under 2^31 passes a naive `size > MaxInt-16`
    // guard yet wraps an Int offset advance negative (or lands it in
    // [2^31-8, 2^31-1] so the next bound check itself overflows); the
    // never-throws contract requires the walk to END instead. Probe
    // the whole corner: every size in [MaxInt-32, MaxInt] plus the
    // u32 range above it at both even and odd offsets.
    val sizes =
      (Int.MaxValue.toLong - 32 to Int.MaxValue.toLong) ++
        Seq(0x80000000L, 0xfffffff0L, 0xffffffffL)
    for (pad <- Seq(0, 1); size <- sizes) {
      val bb = java.nio.ByteBuffer.allocate(12 + pad * 10 + 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(0).put("WAVE".getBytes)
      if (pad == 1) // odd-sized chunk first so the hostile one sits at 22
        bb.put("LIST".getBytes).putInt(1).put(0.toByte).put(0.toByte)
      bb.put("junk".getBytes).putInt(size.toInt) // low 32 bits, read u32
      parseAudio(bb.array()) // must return, never throw
    }
    // and a truncated trailing `data` chunk still reports its frames
    val wav = Kernels.makeAudioHeader(1, 8000, 1, 16, 1000)
    assert(parseAudio(wav) == Seq(1L, 8000L, 1L, 16L, 1000L))
  }

  private def parseVideo(b: Array[Byte]): Seq[Long] = {
    val a = Kernels.parseVideoHeader(b)
    (0 until a.numElements()).map(a.getLong)
  }

  test("ISO-BMFF box walk: largesize, to-EOF sizes, and hostile " +
      "payloads all honor the grammar without throwing") {
    // canonical round-trips, both brands and mvhd versions
    assert(parseVideo(Kernels.makeVideoHeader(1, 0, 600, 36000, 2)) ==
      Seq(1L, 0L, 600L, 36000L, 2L))
    assert(parseVideo(Kernels.makeVideoHeader(2, 1, 90000,
        (1L << 33) + 90000, 3)) ==
      Seq(2L, 1L, 90000L, (1L << 33) + 90000L, 3L))
    // size==1 → 64-bit largesize on the moov box: rebuild the moov
    // header with the extended form; parsed fields must be identical
    val base = Kernels.makeVideoHeader(1, 0, 1000, 5000, 1)
    val moovOff = 16
    val moovSize = ((base(moovOff) & 0xff) << 24) |
      ((base(moovOff + 1) & 0xff) << 16) |
      ((base(moovOff + 2) & 0xff) << 8) | (base(moovOff + 3) & 0xff)
    val big = java.nio.ByteBuffer.allocate(base.length + 8)
    big.put(base, 0, moovOff)
    big.putInt(1).put("moov".getBytes).putLong(moovSize.toLong + 8)
    big.put(base, moovOff + 8, base.length - moovOff - 8)
    assert(parseVideo(big.array()) == Seq(1L, 0L, 1000L, 5000L, 1L))
    // size==0 → box extends to EOF (legal for the last top-level box)
    val eof = base.clone()
    eof(moovOff) = 0; eof(moovOff + 1) = 0
    eof(moovOff + 2) = 0; eof(moovOff + 3) = 0
    assert(parseVideo(eof) == Seq(1L, 0L, 1000L, 5000L, 1L))
    // garbage / truncation / non-ftyp starts
    assert(parseVideo(Array[Byte](1, 2, 3)) == Seq(0L, 0L, 0L, 0L, 0L))
    assert(parseVideo("not a video at all".getBytes) ==
      Seq(0L, 0L, 0L, 0L, 0L))
    assert(parseVideo(base.take(20)) == Seq(1L, 0L, 0L, 0L, 0L))
    // hostile: moov size pointing past EOF ends the walk, keeps fields
    val overrun = base.clone()
    overrun(moovOff) = 0x7f.toByte
    parseVideo(overrun) // must return, never throw
    // hostile: largesize with the top bit set (negative as Long)
    val negBig = big.array().clone()
    negBig(moovOff + 8) = 0xff.toByte
    parseVideo(negBig) // must return, never throw
    // zero tracks and empty moov children are fine
    assert(parseVideo(Kernels.makeVideoHeader(1, 1, 24000, 0, 0)) ==
      Seq(1L, 1L, 24000L, 0L, 0L))
  }

  test("video kernels are reachable through the SQL function surface") {
    val r = spark.sql(
      """SELECT video_header(make_video_header(2, 1, 90000, 8589934592, 2))
           AS v""").head()
    assert(r.getSeq[Long](0) == Seq(2L, 1L, 90000L, 8589934592L, 2L))
  }

  test("bodyDhash: identical bodies → identical signature; a small " +
      "brightness shift keeps gradient signs; halves are 32-bit") {
    import graft.ops.Multimodal
    import spark.implicits._
    def payload(body: String): Array[Byte] =
      Kernels.makeMediaHeader(1, 32, 32) ++ body.getBytes("UTF-8")
    // a body with clear gradient structure (ramps up and down)
    val base = "aaaabbbbccccddddeeeeffffgggghhhh" * 8
    // +1 on every byte: every segment sum shifts equally, so every
    // gradient SIGN — and therefore the whole signature — is unchanged
    val brighter = base.map(c => (c + 1).toChar)
    val media = Seq(
      (1L, "image", payload(base)), (2L, "image", payload(base)),
      (3L, "image", payload(brighter)),
      (4L, "image", payload("zyxwvutsrqponmlkjihgfedcba" * 10)))
      .toDF("media_id", "kind", "payload")
    val sigs = Multimodal.perceptualDhash(media)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(sigs(1L) == sigs(2L), "identical bodies must hash equal")
    assert(sigs(1L) == sigs(3L),
      "uniform brightness shift must not change gradient signs")
    for ((hi, lo) <- sigs.values) {
      assert(hi >= 0L && hi < (1L << 32), s"hi out of 32-bit range: $hi")
      assert(lo >= 0L && lo < (1L << 32), s"lo out of 32-bit range: $lo")
    }
    assert(sigs(1L) != sigs(4L), "opposite ramps must differ")
    val pairs = Multimodal.dhashNearDupPairs(media, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0)),
      s"got $pairs")
  }

  test("dhashNearDupPairs equals brute-force Hamming <= 3 on random " +
      "corpora (band pigeonhole is complete); zero-sigs excluded") {
    import graft.ops.Multimodal
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (0L until 60L).map { i =>
      // clusters of 3 share a base body; members get light edits so
      // some pairs land at small nonzero Hamming
      val base = Array.fill(144)((rnd.nextInt(26) + 'a').toByte)
      (i, base)
    }.flatMap { case (i, base) =>
      Seq((i * 3, base),
        (i * 3 + 1, { val b = base.clone(); b(7) = 'z'.toByte; b }),
        (i * 3 + 2, Array.fill(144)((rnd.nextInt(26) + 'A').toByte)))
    }
    val media = docs.map { case (id, body) =>
      (id, "image", Kernels.makeMediaHeader(1, 8, 8) ++ body) }
      .toDF("media_id", "kind", "payload")
    val sigs = Multimodal.perceptualDhash(media)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val live = sigs.filter { case (_, (h, l)) => h != 0L || l != 0L }
    val want = (for {
      a <- live.keys; b <- live.keys if b > a
      d = java.lang.Long.bitCount(live(a)._1 ^ live(b)._1) +
        java.lang.Long.bitCount(live(a)._2 ^ live(b)._2)
      if d <= 3
    } yield (a, b, d)).toSet
    val got = Multimodal.dhashNearDupPairs(media, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want,
      s"missing=${want -- got} extra=${got -- want}")
    assert(want.nonEmpty, "fixture must exercise live pairs")
  }
}
