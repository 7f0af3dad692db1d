package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Bpe, Multimodal, TextOps}

/** Text-analysis + multimodal-plumbing queries over `documents`. */
object TextQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Per-document token/char statistics (whitespace + BPE-ish regex
    * token counts, punctuation and stopword ratios).
    */
  def textStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      length(col("text")).as("n_chars_m"),
      TextOps.tokenCount(col("text")).as("n_tokens"),
      TextOps.bpeTokenCount(col("text")).as("n_bpe_tokens"),
      TextOps.contentChars(col("text")).as("n_content_chars"),
      round(TextOps.punctRatio(col("text")), 4).as("punct_ratio_r"),
      round(TextOps.stopwordRatio(col("text")), 4).as("stopword_ratio_r"))
      .orderBy(col("doc_id"))

  /** Composite quality score per document, as an exact ×10⁴ integer
    * (engine-independent — see TextOps.qualityScoreE4).
    */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextOps.qualityScoreE4(col("text")).as("quality_e4"))
      .orderBy(col("doc_id"))

  /** Quality-threshold PLANNING CURVE — the question a filtering
    * stage is tuned by: "if the gate keeps quality ≥ q, how much
    * token MASS survives?" Documents land in quality deciles
    * (bucket = quality_e4 DIV 1000, top clamp) and each bucket row
    * carries its token count plus the CUMULATIVE tokens at-or-above
    * it (a window over ≤10 cells ordered bucket DESC) and the
    * exact-integer corpus share. One scan computes both per-doc
    * numbers (quality kernel + token count); everything after is
    * cell arithmetic — at 100 TB the curve costs the scan, and the
    * threshold decision reads one 10-row table instead of rerunning
    * the filter per candidate cutoff.
    */
  def qualityTokenCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = t(s, dir, "documents").select(
        TextOps.qualityScoreE4(col("text")).cast("long").as("quality_e4"),
        size(graft.ops.Dedup.tokens(col("text"))).cast("long").as("ntok"))
      .withColumn("bucket", expr("least(quality_e4 DIV 1000, 9)"))
    val cells = per.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
    // unpartitioned window audit (r15): `cells` is the post-aggregation
    // bucket table — ≤ 10 rows by the least(..., 9) bucketing
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_tokens_ge", sum(col("n_tokens")).over(w))
      .withColumn("total",
        sum(col("n_tokens")).over(Window.partitionBy(lit(1))))
      .withColumn("share_ge_e6", expr("cum_tokens_ge * 1000000 DIV total"))
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        col("cum_tokens_ge"), col("share_ge_e6"))
      .orderBy(col("bucket"))
  }

  /** Heuristic language ID vs the labeled `lang` column. */
  def langId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"), col("lang"),
      TextOps.langId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))

  /** Winnowing fingerprints per document. FULL oracle (promoted in
    * r6): DuckDB replays the byte-level k-gram FNV-1a + SplitMix64
    * hash and the signed window-min selection bit-for-bit (the corpus
    * is pure ASCII, so char arithmetic equals the kernel's byte
    * arithmetic) — verified exact at sf0.001/0.01/0.1
    * (55692/54103/538348 rows).
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    TextOps.winnowingFingerprints(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("id"), col("fp"))

  /** Driver-visible winnowing gate (companion to `fingerprint` /
    * `fingerprint_pairs` — the last rows-only family without one):
    * (1) every document emits ≥ 1 fingerprint, (2) the POSITION
    * guarantee holds corpus-wide — the max gap between consecutive
    * window-min selections is ≤ w (Schleimer et al. SIGMOD'03; the
    * structural property that makes winnowing a locality guarantee
    * rather than a random sample, probed by the
    * [[graft.functions.Kernels.winnowMaxGap]] kernel, not assumed),
    * and (3) the selection density sits in a sane band — distinct
    * selections are ≥ 1/w and ≤ 2/(w+1)+slack of the k-gram count
    * (a collapsed hash or an always-select bug lands outside).
    * n_docs is SQL-recomputed; flags pinned (kmeans_gate pattern).
    */
  def fingerprintGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.dsl.winnow_max_gap
    val k = 8; val w = 4
    val docs = t(s, dir, "documents")
    // nDocs / maxGap / the density denominator share ONE aggregate
    // job over one documents scan (guide §1.2: remove passes — they
    // were three separate full scans, one re-running the winnow-gap
    // kernel), and totFps rides the fingerprint checkpoint job as a
    // top-of-plan observed count. Aggregate expressions verbatim.
    // (An Observation at the docs scan would fold the three into the
    // checkpoint job too, but under AQE a CollectMetrics below an
    // exchange never delivers — measured; only final-stage metric
    // placements are used anywhere in the repo.)
    val dRow = docs.agg(
      count(lit(1)).as("__n"),
      max(winnow_max_gap(col("text"), k, w)).as("__gap"),
      sum(greatest(length(col("text")) - (k - 1), lit(1))).as("__kg"))
      .head()
    val nDocs = dRow.getLong(0)
    val maxGap = dRow.getLong(1)
    val totKgrams = dRow.getLong(2)
    // pinned: coverage and the density count both read the pair set —
    // without it the winnow explode runs once per aggregate
    val (fps, mF) = graft.ops.Dedup.materializeObserved(
      TextOps.winnowingFingerprints(docs, "doc_id", "text", k, w),
      count(lit(1)).as("__n"))
    val totFps = mF("__n").asInstanceOf[Long]
    val covered = fps.select(col("id")).distinct().count()
    Seq((nDocs,
        if (covered == nDocs) 1 else 0,
        if (maxGap <= w) 1 else 0,
        // density band in exact integers: w·totFps ≥ totKgrams (lower
        // bound 1/w) and 2·(w+1)·totFps ≤ 5·totKgrams (2/(w+1) + 25%)
        if (w * totFps >= totKgrams &&
          2 * (w + 1) * totFps <= 5 * totKgrams) 1 else 0))
      .toDF("n_docs", "all_docs_covered", "gap_within_w", "density_in_band")
  }

  /** Synthesized media payload shared by the decode/embed queries:
    * a REAL container header (PNG/JPEG/BMP/GIF rotating by doc id,
    * dims derived from the id — the multimodal_header rule) with the
    * document's text bytes standing in for the pixel-data section.
    * Header fields and body statistics are then both byte-real AND
    * arithmetically replayable in the oracle.
    */
  private def synthMedia(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.dsl._
    t(s, dir, "documents")
      .select(col("doc_id").cast("long").as("media_id"),
        lit("image").as("kind"),
        concat(
          make_media_header(pmod(col("doc_id"), lit(4)) + 1,
            pmod(col("doc_id"), lit(512)) + 16,
            pmod(col("doc_id") * 3, lit(512)) + 16),
          col("text").cast("binary")).as("payload"))
  }

  /** Multimodal metadata extraction: synthesized payloads →
    * per-partition decode ([[graft.ops.Multimodal.decodeFeatures]]) →
    * typed metadata. Width/height come out of the container header
    * BYTES; mean_val is the real mean body-byte intensity — the
    * oracle recomputes both arithmetically, so the parse AND the
    * statistics are value-checked (full oracle since r7; the r6 shape
    * derived fake values from payload size).
    */
  def multimodalMeta(s: SparkSession, dir: String): DataFrame = {
    Multimodal.decodeFeatures(s, synthMedia(s, dir)).toDF()
      .withColumn("mean_val", round(col("mean_val"), 3))
      .orderBy(col("media_id"))
  }

  /** Multimodal feature extraction ([[graft.ops.Multimodal
    * .embedFeatures]]): payload → 16-dim vector = 4 parsed header
    * fields + 12-band byte histogram of the body. Every cell is
    * integer-valued, so the vector is surfaced as a comma-joined
    * string and the oracle recomputes it cell-for-cell from the
    * synthesis rule (full oracle since r7 — the r6 stub's seed hash
    * was rows-only).
    */
  def multimodalEmbed(s: SparkSession, dir: String): DataFrame = {
    Multimodal.embedFeatures(s, synthMedia(s, dir), dim = 16)
      .select(col("media_id"), size(col("embedding")).as("dim"),
        array_join(
          transform(col("embedding"), x => x.cast("long").cast("string")),
          ",").as("features"))
      .orderBy(col("media_id"))
  }

  /** Driver-visible gate for [[multimodalEmbed]]: pins full coverage
    * (every document yields one embedding), the declared width (all
    * vectors exactly dim=16, no null/NaN cells), non-degeneracy
    * (every L2 norm strictly positive — guaranteed for real features
    * since the parsed format code cell is ≥ 1), and
    * partition-independence (re-running over a differently-
    * partitioned input yields bit-identical vectors — the property a
    * REAL batched model UDF must also hold for the operator to be
    * retry-safe). n_media is SQL-recomputed; flags pinned, same
    * pattern as `pq_gate`.
    */
  def multimodalEmbedGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.dsl._
    val media = synthMedia(s, dir)
    val e1 = Multimodal.embedFeatures(s, media, dim = 16).persist()
    val n = t(s, dir, "documents").count()
    // the width and norm checks share ONE aggregate job (guide §1.2) —
    // it is also the action that fills e1's cache for the determinism
    // join below. Conditional counts ≡ the old filter(...).count()s.
    val cRow = e1.agg(
      count(when(size(col("embedding")) === 16 &&
        !exists(col("embedding"), v => v.isNull || isnan(v)), 1))
        .as("__d"),
      count(when(
        sqrt(dot_product(col("embedding"), col("embedding"))) > 0, 1))
        .as("__p"))
      .head()
    val dimOk = cRow.getLong(0)
    val normPos = cRow.getLong(1)
    val e2 = Multimodal.embedFeatures(s, media.repartition(7), dim = 16)
    val same = e1.select(col("media_id"), col("embedding").as("v1"))
      .join(e2.select(col("media_id"), col("embedding").as("v2")),
        Seq("media_id"))
      .filter(col("v1") === col("v2")).count()
    e1.unpersist()
    Seq((n,
        if (dimOk == n) 1 else 0,
        if (normPos == n) 1 else 0,
        if (same == n) 1 else 0))
      .toDF("n_media", "dim_ok", "norm_positive", "deterministic")
  }

  /** Media header round-trip: synthesize REAL container header bytes
    * (PNG/JPEG/BMP/GIF rotating by doc id, dims derived from the id),
    * then parse format/width/height/bit-depth back out of the bytes
    * with the scan-stage header parser. DuckDB recomputes the expected
    * values arithmetically, so the byte-level parse is value-checked:
    * parse ∘ synthesize = identity on every row. (MultimodalSpec
    * additionally cross-checks the parser against javax.imageio-encoded
    * real images.)
    */
  def multimodalHeader(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.dsl._
    t(s, dir, "documents")
      .select(col("doc_id"),
        make_media_header(pmod(col("doc_id"), lit(4)) + 1,
          pmod(col("doc_id"), lit(512)) + 16,
          pmod(col("doc_id") * 3, lit(512)) + 16).as("payload"))
      .select(col("doc_id").as("media_id"),
        media_header(col("payload")).as("__h"))
      .select(col("media_id"),
        try_element_at(col("__h"), lit(1)).as("format_code"),
        try_element_at(col("__h"), lit(2)).as("width"),
        try_element_at(col("__h"), lit(3)).as("height"),
        try_element_at(col("__h"), lit(4)).as("bit_depth"))
      .orderBy(col("media_id"))
  }

  /** Unicode NFC normalization for dedup: decomposed accent sequences
    * (e + combining acute U+0301, o + combining diaeresis U+0308) are
    * synthesized onto each document, canonically composed by the
    * codegen'd NFC kernel, and value-checked BYTE-for-byte against
    * DuckDB's `nfc_normalize` via md5 — with before/after codepoint
    * counts proving composition actually collapsed the sequences.
    * Without this step, hash-based exact dedup treats visually
    * identical composed/decomposed text as distinct documents.
    */
  def unicodeNfc(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.dsl._
    // DECOMPOSED on purpose (escapes: e + combining acute U+0301,
    // o + combining diaeresis U+0308): NFC must collapse each pair
    val suffix = " e\u0301o\u0308 cafe\u0301"
    t(s, dir, "documents")
      .select(col("doc_id"), concat(col("text"), lit(suffix)).as("raw"))
      .select(col("doc_id"), length(col("raw")).as("n_raw"),
        nfc_normalize(col("raw")).as("norm"))
      .select(col("doc_id"), col("n_raw"),
        length(col("norm")).as("n_nfc"),
        md5(col("norm").cast("binary")).as("norm_md5"))
      .orderBy(col("doc_id"))
  }

  /** Audio-header round-trip: per-document audio container bytes are
    * SYNTHESIZED (WAV for even ids, FLAC for odd; rate/channels/bit
    * depth/length arithmetic in doc_id), then PARSED back by the
    * byte-level header kernel ([[graft.functions.Kernels
    * .parseAudioHeader]] — RIFF chunk walk / STREAMINFO bit-unpack,
    * scan-stage, no codec). The oracle recomputes every field
    * arithmetically, so parse ∘ synthesize is value-checked as the
    * identity on each row; duration_ms is derived integer-exactly
    * from the PARSED fields (n_frames·1000 DIV rate), proving the
    * length really came back out of the container bytes.
    * (MultimodalSpec additionally cross-checks the WAV parser against
    * javax.sound-encoded real files.)
    */
  def multimodalAudio(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.dsl._
    val fmt = pmod(col("doc_id"), lit(2)) + 1 // 1 WAV, 2 FLAC
    val rate = element_at(
      array(lit(8000), lit(16000), lit(22050), lit(44100), lit(48000)),
      (pmod(col("doc_id"), lit(5)) + 1).cast("int"))
    val ch = expr("doc_id DIV 2 % 2 + 1")
    val bits = when(pmod(col("doc_id"), lit(3)) === 0, 24).otherwise(16)
    val secs = pmod(col("doc_id"), lit(7)) + 1
    t(s, dir, "documents")
      .select(col("doc_id"),
        make_audio_header(fmt, rate, ch, bits,
          (rate * secs).cast("long")).as("payload"))
      .select(col("doc_id").as("media_id"),
        audio_header(col("payload")).as("__a"))
      .select(col("media_id"),
        try_element_at(col("__a"), lit(1)).as("format_code"),
        try_element_at(col("__a"), lit(2)).as("sample_rate"),
        try_element_at(col("__a"), lit(3)).as("channels"),
        try_element_at(col("__a"), lit(4)).as("bits_per_sample"),
        try_element_at(col("__a"), lit(5)).as("n_frames"))
      .withColumn("duration_ms", expr("n_frames * 1000 DIV sample_rate"))
      .orderBy(col("media_id"))
  }

  /** Video-header round-trip — the video sibling of
    * [[multimodalAudio]]: per-document ISO-BMFF (MP4/MOV) container
    * bytes are SYNTHESIZED (brand isom/qt by parity, mvhd version 0/1
    * alternating — version 1 durations carry a 2³³ offset so the
    * 64-bit field is genuinely exercised, timescale/track-count
    * arithmetic in doc_id), then PARSED back by the byte-level box
    * walk ([[graft.functions.Kernels.parseVideoHeader]] — top-level
    * box grammar incl. largesize, one-level moov descent; scan-stage,
    * no codec). The oracle recomputes every field arithmetically, so
    * parse ∘ synthesize is value-checked as the identity per row, and
    * duration_ms derives integer-exactly from the PARSED fields.
    */
  def multimodalVideo(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.dsl._
    val fmt = (pmod(col("doc_id"), lit(2)) + 1).cast("int") // 1 isom, 2 qt
    val ver = expr("CAST(doc_id DIV 2 % 2 AS INT)")         // mvhd 0 / 1
    val tscale = element_at(
      array(lit(600), lit(1000), lit(24000), lit(30000), lit(90000)),
      (pmod(col("doc_id"), lit(5)) + 1).cast("int"))
    val secs = pmod(col("doc_id"), lit(11)) + 1
    val duration = (tscale.cast("long") * secs) +
      when(ver === 1, lit(8589934592L)).otherwise(lit(0L)) // 2^33: v1 path
    val nTracks = (pmod(col("doc_id"), lit(3)) + 1).cast("int")
    t(s, dir, "documents")
      .select(col("doc_id"),
        make_video_header(fmt, ver, tscale, duration, nTracks).as("payload"))
      .select(col("doc_id").as("media_id"),
        video_header(col("payload")).as("__v"))
      .select(col("media_id"),
        try_element_at(col("__v"), lit(1)).as("format_code"),
        try_element_at(col("__v"), lit(2)).as("mvhd_version"),
        try_element_at(col("__v"), lit(3)).as("timescale"),
        try_element_at(col("__v"), lit(4)).as("duration"),
        try_element_at(col("__v"), lit(5)).as("n_tracks"))
      .withColumn("duration_ms", expr("duration * 1000 DIV timescale"))
      .orderBy(col("media_id"))
  }

  /** Video frame-sampling plan: documents as opaque "video" payloads →
    * [[graft.ops.Multimodal.frameSamplePlan]] explodes every 3rd frame
    * index of the first 16 frames into per-frame rows — the rows a
    * frame decoder (stubbed in this container) would consume one
    * partition-batch at a time. The sampled index set is arithmetic,
    * so DuckDB value-checks the exploded plan exactly.
    */
  def multimodalFrames(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asMediaTable(
      t(s, dir, "documents"), "doc_id", "text", "video")
    Multimodal.frameSamplePlan(media, nFrames = 16, stride = 3)
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Perceptual image near-dup pairs
    * ([[graft.ops.Multimodal.dhashNearDupPairs]]): the synthesized
    * media payloads hashed with the 8×9-grid dHash (gradient-sign
    * bits over body-byte segment sums), candidates via the 4×16-bit
    * band pigeonhole (Hamming ≤ 3 forces a matching band), verified
    * by XOR popcount. Completes the near-dup family across the
    * binary columns: exact dups share all 64 bits, brightness-style
    * perturbations that break exact hashing keep the gradient signs.
    * All-integer and fixed-order, so the oracle recomputes every
    * SEGMENT SUM, BIT, BAND, and the Hamming verdict from the
    * synthesis rule — the signature is value-checked, not just the
    * pair contract.
    */
  def multimodalDhash(s: SparkSession, dir: String): DataFrame =
    Multimodal.dhashNearDupPairs(synthMedia(s, dir), maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** Pure-SQL function surface: the same native kernels reached
    * through `spark.sql(...)` text — [[graft.GraftExtensions]]
    * registration is the operator under test here (every other query
    * exercises the Column DSL path). DuckDB recomputes each kernel's
    * set cardinality from raw text, so the SQL path is value-checked
    * end-to-end, not just resolvable.
    */
  def sqlSurface(s: SparkSession, dir: String): DataFrame = {
    graft.GraftExtensions.register(s)
    t(s, dir, "documents").createOrReplaceTempView("graft_documents")
    s.sql("""SELECT doc_id,
                    size(token_hashes(text)) AS n_tokens,
                    size(shingle_set(text, 3)) AS n_shingles,
                    size(char_ngram_set(text, 3)) AS n_ngrams,
                    size(ac_match_ids(text,
                      array('hash join', 'merge sort', 'sort'))) AS n_hits
             FROM graft_documents ORDER BY doc_id""")
  }

  /** Within-document repetition (Gopher/C4-style boilerplate signal):
    * word 2-gram totals, distinct counts, duplicate occurrences, and
    * the top gram's count, as exact integers (one codegen'd scan-stage
    * kernel pass per document — no explode/groupBy shuffle; the
    * whole-corpus signal is a linear scan at any scale).
    */
  def repetitionStats(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.dsl._
    t(s, dir, "documents")
      .select(col("doc_id"), ngram_rep_stats(col("text"), 2).as("__r"))
      .select(col("doc_id"),
        try_element_at(col("__r"), lit(1)).as("n_grams"),
        try_element_at(col("__r"), lit(2)).as("n_distinct"),
        (try_element_at(col("__r"), lit(1)) -
          try_element_at(col("__r"), lit(2))).as("n_dup"),
        try_element_at(col("__r"), lit(3)).as("top_count"))
      .orderBy(col("doc_id"))
  }

  /** PII scrub: plant synthetic emails/phones derived from the doc id
    * into the text, redact them, report the clean text + redaction
    * counts. The oracle rebuilds the same planted text and runs the
    * same common-dialect regexes, so the scrub output is value-checked
    * character-for-character.
    */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(col("text"), lit(" contact u"), col("doc_id"),
      lit("@example.com or 555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    val (nEmails, nPhones) = TextOps.piiCounts(raw)
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.scrubPii(raw).as("clean"),
        nEmails.as("n_emails"), nPhones.as("n_phones"))
      .orderBy(col("doc_id"))
  }

  /** Quality-weighted deterministic sampling (data mixing: upsample
    * high-quality documents): keep a document iff its md5-uniform
    * draw falls below a threshold proportional to its exact-integer
    * quality score — deterministic across engines, plans, and
    * partitionings (same md5-prefix trick as `sample_deterministic`,
    * with a per-row threshold instead of a constant).
    */
  def qualitySample(s: SparkSession, dir: String): DataFrame = {
    val q = TextOps.qualityScoreE4(col("text"))
    // threshold in [0,255]: quality_e4/10^4 scaled to the 256-value
    // first-hex-byte space; compare as equal-length hex strings
    // (q*256 ≤ 2.56e6 is exactly representable in double, so the
    // floor-of-ratio is exact integer division)
    val thrHex = lpad(lower(hex(
      least(floor((q * 256) / 10000).cast("int"), lit(255)))), 2, "0")
    t(s, dir, "documents")
      .select(col("doc_id"), q.as("quality_e4"),
        substring(md5(col("text").cast("binary")), 1, 2).as("draw"),
        thrHex.as("thr"))
      .filter(col("draw") < col("thr"))
      .select(col("doc_id"), col("quality_e4"))
      .orderBy(col("doc_id"))
  }

  /** Training-sequence chunking: 64-token windows every 48 tokens
    * (16-token overlap), exploded to one row per chunk — the dataset
    * prep step that turns documents into model sequences. The chunk
    * text itself is value-checked against a DuckDB list-comprehension
    * oracle. Narrow op: kernel + posexplode in the scan stage, no
    * shuffle until the final presentation sort.
    */
  def chunkTokensQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.dsl._
    t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(chunk_tokens(col("text"), 64, 48))
          .as(Seq("chunk_idx", "chunk_text")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        size(split(col("chunk_text"), "\\s+")).cast("long").as("n_chunk_tokens"),
        col("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Stratified deterministic sampling (data mixing by language):
    * per-language keep rates applied via the same md5-draw trick as
    * `quality_sample`, with the rate table joined as a broadcast
    * dimension — the per-source/per-language mixing step of a corpus
    * build. Rates (of 256): en 32, de 64, es 128, fr 255, other 16.
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rates = Seq(("en", 32), ("de", 64), ("es", 128), ("fr", 255))
      .toDF("lang", "thr")
    t(s, dir, "documents")
      .join(broadcast(rates), Seq("lang"), "left")
      .withColumn("thr", coalesce(col("thr"), lit(16)))
      .filter(substring(md5(col("text").cast("binary")), 1, 2) <
        lpad(lower(hex(col("thr"))), 2, "0"))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Exact-quota mixture composition (the step after
    * [[stratifiedSample]]'s Bernoulli thinning when the recipe says
    * "the corpus must be 24% src-group-3, 8% src-group-0"): every
    * source gets a weight, the sample budget is 40% of the corpus,
    * and each source contributes EXACTLY its quota
    * `budget · w / Σw`, picked as the top-quota rows by a stable
    * per-row draw (an LCG over doc_id — reproducible in any engine,
    * unlike xxhash64). One shuffle, partitioned by source; rank is
    * per-source so no global sort exists. For domains too large to
    * rank exactly, the scale swap is a two-phase draw-threshold cut
    * (sample the draw distribution, cut at the quota quantile) —
    * the Bernoulli form of it is `stratified_sample`.
    */
  /** The mixtures' stable per-row draw: a Knuth LCG over doc_id,
    * `(doc_id · 2654435761) mod 2³²` — spelled as a SPLIT multiply
    * (16-bit limbs) so every intermediate stays within int64 for ANY
    * doc_id: the naive product overflows int64 once doc_id ≳ 3.5×10⁹
    * (ANSI Spark throws, DuckDB errors — a latent cross-engine
    * divergence in a query whose point is exact replay). Identical
    * limb algebra rides in the oracle SQL; values are unchanged for
    * in-range ids (the split is exact, not an approximation).
    */
  private val lcgRank: org.apache.spark.sql.Column = expr(
    """pmod((pmod(doc_id, 4294967296) % 65536) * 2654435761
         + (((pmod(doc_id, 4294967296) DIV 65536) * 2654435761) % 65536)
           * 65536,
         4294967296)""")

  def mixtureSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
      .withColumn("rk", lcgRank)
      .withColumn("w", expr("CAST(substring(source, 4) AS INT) % 4 + 1"))
    val wdw = Window.partitionBy(col("source"))
      .orderBy(col("rk"), col("doc_id"))
    val total = t(s, dir, "documents").agg(count(lit(1)).as("n_total"))
    docs.withColumn("rn", row_number().over(wdw))
      .crossJoin(broadcast(total))
      .filter(col("rn") <= expr("n_total * 2 DIV 5 * w DIV 50"))
      .select(col("doc_id"), col("source"), col("w"))
      .orderBy(col("doc_id"))
  }

  /** TEMPERATURE-rebalanced mixture (the UniMax/multilingual-sampling
    * move): per-language quotas ∝ √count instead of count, so
    * low-resource languages get upweighted relative to proportional —
    * α = 0.5 sampling temperature, the standard antidote to
    * high-resource domination in a training mix. Unlike
    * [[mixtureSample]]'s static recipe weights, these weights derive
    * from the DATA: w_g = ⌊√n_g⌋ via the exact integer square root
    * ([[graft.ops.Pca.isqrt]] — same ±1-corrected double sqrt in both
    * engines), budget = 40% of the corpus, quota_g =
    * budget·w_g / Σw (truncating), selection the stable LCG
    * rank within each language. The per-group moment collect is
    * bounded by |langs|; one shuffle, partitioned by lang.
    */
  def mixtureTemperature(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // empty corpus → empty sample (row-level semantics, not a trainer)
    if (counts.isEmpty)
      return docs.select(col("doc_id"), col("lang")).limit(0)
    val budget = counts.map(_._2).sum * 2 / 5
    val ws = counts.map { case (l, n) => (l, graft.ops.Pca.isqrt(n)) }
    val wsum = ws.map(_._2).sum
    val quotas = ws.toSeq
      .map { case (l, w) => (l, budget * w / wsum) }
      .toDF("lang", "quota")
    val wdw = Window.partitionBy(col("lang"))
      .orderBy(col("rk"), col("doc_id"))
    docs.select(col("doc_id"), col("lang"))
      .withColumn("rk", lcgRank)
      .withColumn("rn", row_number().over(wdw))
      .join(broadcast(quotas), Seq("lang"))
      .filter(col("rn") <= col("quota"))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** EXACT per-group quantiles by the bounded-domain counting
    * pattern — the scalable alternative to sorting raw rows or
    * settling for approx_percentile: count per (lang, n_chars)
    * [the value domain is small regardless of corpus size], cumulate
    * within the group, and pick the smallest value whose cumulative
    * count reaches the EXPLICIT position rule (lower median
    * pos = (n+1) DIV 2; p90 pos = (9n+9) DIV 10) — the rule is
    * spelled out on both sides, so no engine's private quantile
    * definition enters the oracle. Shuffle carries |domain| counting
    * rows per group, never the corpus.
    */
  def medianExact(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = t(s, dir, "documents")
      .groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
    cum.filter(col("cum") >= expr("(n + 1) DIV 2"))
      .groupBy(col("lang")).agg(min(col("n_chars")).as("median_chars"),
        max(col("n")).as("n"))
      .join(
        cum.filter(col("cum") >= expr("(9 * n + 9) DIV 10"))
          .groupBy(col("lang"))
          .agg(min(col("n_chars")).as("p90_chars")),
        Seq("lang"))
      .select(col("lang"), col("n"), col("median_chars"), col("p90_chars"))
      .orderBy(col("lang"))
  }

  /** C4-style text normalization: plant markup + control characters
    * around the document (so the op has real work on every row), then
    * strip tags, collapse whitespace/control runs to single spaces,
    * and trim. Value-checked character-for-character by the oracle.
    * Narrow op: two scan-stage regex projections, no shuffle before
    * the presentation sort.
    */
  def normalizeText(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(lit("<p id=\"d"), col("doc_id"), lit("\">\n\t "),
      col("text"), lit(" </p> <br/> "))
    val clean = trim(regexp_replace(
      regexp_replace(raw, "<[^>]*>", " "),
      "[\\s\\u0000-\\u001F]+", " "))
    t(s, dir, "documents")
      .select(col("doc_id"), clean.as("clean"),
        length(clean).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** HTML main-content extraction (the trafilatura/jusText step of a
    * web-crawl pipeline, structural-heuristic form): each document is
    * wrapped in a deterministic page — head/title, style, nav,
    * tracking script, article body, footer whose link count varies
    * per doc — and the operator recovers the payload by removing
    * whole BOILERPLATE BLOCKS (script/style/nav/footer, non-greedy
    * dotall spans; explicit alternation, not backreferences, so the
    * same pattern runs on java.util.regex and RE2), stripping
    * remaining tags, and collapsing whitespace. Extracted title, link
    * count, and a content-equals-source flag make the round-trip
    * driver-checkable (the multimodal synthesize→parse tradition,
    * [[normalizeText]]'s strip escalated to structure-aware removal).
    * Three scan-stage regex projections, zero shuffles before the
    * presentation sort — at 100 TB this runs at parquet-scan speed.
    */
  def htmlExtract(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val page = concat(
      lit("<html><head><title>Doc "), id,
      lit("</title><style>body{margin:0}</style></head><body>"),
      lit("<nav><a href=\"/home\">home</a> <a href=\"/about\">about</a></nav>"),
      lit("<script>track(\""), id, lit("\");</script><article><p>"),
      col("text"), lit("</p></article><footer>"),
      expr("repeat('<a href=\"/x\">x</a>', CAST(doc_id % 3 AS INT))"),
      lit("(c) corp</footer></body></html>"))
    val content = trim(regexp_replace(regexp_replace(regexp_replace(page,
      "(?s)(<head>.*?</head>|<script[^>]*>.*?</script>|<style[^>]*>.*?</style>|<nav[^>]*>.*?</nav>|<footer[^>]*>.*?</footer>)", " "),
      "<[^>]*>", " "), "\\s+", " "))
    val want = trim(regexp_replace(col("text"), "\\s+", " "))
    t(s, dir, "documents")
      .select(col("doc_id"),
        regexp_extract(page, "<title>(.*?)</title>", 1).as("title"),
        length(content).cast("long").as("content_len"),
        (size(split(page, "<a href", -1)) - 1).cast("long").as("n_links"),
        (content === want).cast("int").as("content_ok"))
      .orderBy(col("doc_id"))
  }

  /** URL canonicalization for dedup keying ([[graft.functions.dsl
    * .url_canon]] / [[graft.functions.Kernels.canonicalizeUrl]]):
    * synthesize a deterministically-messy URL per document (mixed-case
    * scheme/host, default port, duplicate and trailing slashes,
    * unsorted query params, utm_ tracking params, fragment), then
    * canonicalize it generically and count documents sharing each
    * canonical key. The messy→canonical mapping is what URL-level
    * dedup of a web corpus keys on; the kernel is a scan-stage
    * codegen expression (zero shuffle), and the only shuffle here is
    * the count window keyed ON the canonical key — the dedup shuffle
    * itself. Following the `html_extract` convention, the oracle
    * replays BOTH the synthesis and the canonical form arithmetically
    * (the canonical string is constructed directly from the same
    * doc_id arms), so every normalization rule is hash-pinned on
    * every row; the kernel's generic parsing beyond this family is
    * property-tested (idempotence, totality) in KernelProps.
    */
  def urlCanonicalize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.dsl.url_canon
    val url = concat(
      expr("CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END"),
      lit("://"),
      expr("CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM' " +
        "WHEN doc_id % 3 = 1 THEN 'Docs.Example.Com' " +
        "ELSE 'cdn.example.com' END"),
      expr("CASE WHEN doc_id % 5 = 0 THEN ':443' " +
        "WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END"),
      lit("/"), col("source"), lit("//"), col("lang"),
      expr("CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END"),
      expr("CASE WHEN doc_id % 6 = 0 THEN '?b=2&a=1' " +
        "WHEN doc_id % 6 = 1 THEN '?a=1&b=2' " +
        "WHEN doc_id % 6 = 2 THEN '?utm_source=feed&a=1' " +
        "WHEN doc_id % 6 = 3 THEN '?utm_campaign=x' " +
        "WHEN doc_id % 6 = 4 THEN '?z=9' ELSE '' END"),
      expr("CASE WHEN doc_id % 7 = 0 THEN '#sec1' ELSE '' END"))
    t(s, dir, "documents")
      .select(col("doc_id"), url.as("url"), url_canon(url).as("canon_url"))
      .withColumn("changed", (col("url") =!= col("canon_url")).cast("int"))
      .withColumn("n_same_key",
        count(lit(1)).over(Window.partitionBy(col("canon_url"))))
      .orderBy(col("doc_id"))
  }

  /** Corpus drift monitor: exact total-variation distance (×10⁶)
    * between the unigram distributions of two corpus halves (doc_id
    * parity stands in for "yesterday vs today") — the distribution-
    * shift alarm a continuously-ingesting training pipeline watches.
    * TV = ½·Σ_t |c1/N1 − c2/N2| is kept exact by clearing
    * denominators: Σ|c1·N2 − c2·N1| over the joint vocabulary,
    * scaled by 10⁶ DIV (2·N1·N2) — all DECIMAL(38,0) products
    * (int64 would overflow at c·N ≈ 10²⁶ for web-scale counts;
    * DuckDB's HUGEINT mirrors it). ONE shuffle to the (token, half)
    * count table; the vocabulary join is a full-outer on the token
    * key with absent counts as 0.
    */
  def corpusDrift(s: SparkSession, dir: String): DataFrame = {
    val tok = t(s, dir, "documents")
      .select((col("doc_id") % 2 === 0).as("early"),
        explode(graft.ops.Dedup.tokens(col("text"))).as("token"))
    val counts = tok.groupBy(col("token"))
      .agg(sum(when(col("early"), 1L).otherwise(0L)).as("c1"),
        sum(when(!col("early"), 1L).otherwise(0L)).as("c2"))
    val totals = counts.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
      count(lit(1)).as("vocab"))
    counts.crossJoin(broadcast(totals))
      .agg(first(col("n1")).as("n1_tokens"),
        first(col("n2")).as("n2_tokens"),
        first(col("vocab")).as("vocab"),
        expr("""CAST((sum(abs(CAST(c1 AS DECIMAL(38,0)) * n2
                            - CAST(c2 AS DECIMAL(38,0)) * n1)) * 1000000)
                     DIV (2 * CAST(first(n1) AS DECIMAL(38,0)) * first(n2))
                AS BIGINT)""").as("tv_e6"))
  }

  /** Cross-source contamination matrix: for every pair of corpus
    * sources, the number of shared distinct character 3-grams and the
    * exact Jaccard similarity (×10⁶, integer DIV) of their gram sets
    * — the source-level view of `decontaminate`'s document-level
    * check, and the standard audit before mixing corpora ("how much
    * of source B is already in source A?"). Plan shape: ONE distinct
    * (source, gram) projection feeds both the per-source sizes and
    * the pair join; the self-join is keyed ON THE GRAM, so its
    * fan-out per gram is bounded by #sources² (a corpus-size-
    * independent constant), never docs² — with S sources the widest
    * gram contributes S·(S−1)/2 rows. At a 10⁴-source scale you'd
    * band ubiquitous grams first (df cap), trading exactness of the
    * denominator for fan-out — here exact Jaccard is kept and the
    * bound is 20²/2 rows per gram.
    */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    // spread BEFORE the gram explode: the single-file scan is one task,
    // and the char-3-gram transform+explode is the query's CPU body
    // (measured 2.6-3.1 s single-core without it) — guide §2.5
    val grams = graft.ops.Dedup.spread(
        t(s, dir, "documents").select(col("source"), col("text")))
      .select(col("source"), explode(expr(
        "transform(sequence(1, greatest(length(text) - 2, 1)), i -> substring(text, i, 3))"))
        .as("g"))
      .distinct()
      .persist()
    val sizes = grams.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = grams.as("a")
      .join(grams.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    val out = pairs
      .join(sizes.withColumnRenamed("source", "src_a")
        .withColumnRenamed("n", "na"), Seq("src_a"))
      .join(sizes.withColumnRenamed("source", "src_b")
        .withColumnRenamed("n", "nb"), Seq("src_b"))
      .withColumn("jaccard_e6",
        expr("CAST(n_common * 1000000 DIV (na + nb - n_common) AS BIGINT)"))
      .select(col("src_a"), col("src_b"), col("n_common"), col("jaccard_e6"))
    // materialize-then-unpersist (the minePairs pattern): the S² result
    // is tiny; holding the gram cache past it would accumulate cached
    // partitions across suite runs in one long-lived session
    val pinned = graft.ops.Dedup.materialize(out)
    grams.unpersist()
    pinned.orderBy(col("src_a"), col("src_b"))
  }

  /** URL extraction + per-domain aggregation (the Common-Crawl-shaped
    * provenance rollup): plant two deterministic URLs per document,
    * extract every host with one regex pass, and aggregate
    * (urls, distinct docs) per domain. Post-explode shuffle carries
    * only (host, doc_id).
    */
  def domainStats(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(col("text"),
      lit(" see https://host"), pmod(col("doc_id"), lit(50)),
      lit(".example.org/p/"), col("doc_id"),
      lit(" and http://m"), pmod(col("doc_id"), lit(7)),
      lit(".example.net/q?x="), col("doc_id"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(regexp_extract_all(raw,
          lit("https?://([A-Za-z0-9.-]+)"), lit(1))).as("host"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("host"))
  }

  /** Corpus vocabulary: top-100 tokens by frequency (count desc, token
    * asc tie-break) with dense rank — explode → partial+final
    * hash-aggregate → TakeOrdered; the shuffle carries (token, partial
    * count), never raw text.
    */
  def corpusVocab(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    t(s, dir, "documents")
      .select(explode(graft.ops.Dedup.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(100)
      // unpartitioned window audit (r15): ranks the post-limit table —
      // ≤ 100 rows at any corpus size
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("token"))))
  }

  /** TF-IDF top terms: 3 highest-scoring tokens per document, with the
    * idf surrogate kept in EXACT integer arithmetic
    * (score_e6 = tf·10⁶ div df — a log() would be libm-dependent
    * across engines). Plan shape: ONE corpus explode → (doc,token)
    * aggregate → document frequency as a count window over the tf
    * table (tf rows are unique per (doc,token), so count-over-token IS
    * df; a separate groupBy branch would re-explode the whole corpus
    * because the two aggregation subtrees can't share an exchange) →
    * per-doc top-n window. Every post-explode shuffle carries the
    * compact (doc, token, tf) table, never text.
    */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = t(s, dir, "documents")
      .select(col("doc_id"), explode(graft.ops.Dedup.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_e6").desc, col("token"))
    tf.withColumn("dfc", count(lit(1)).over(Window.partitionBy(col("token"))))
      .withColumn("score_e6", expr("tf * 1000000 DIV dfc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("token"), col("tf"), col("dfc"),
        col("score_e6"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Collocation extraction by pointwise mutual information (Church &
    * Hanks 1990) — the top 20 adjacent-token pairs whose observed
    * bigram count most exceeds the independence expectation
    * c_x·c_y/N. PMI itself is a log, so the RANKING statistic is the
    * exact-integer LIFT (c_xy·N·10⁶ div c_x·c_y — monotone in PMI,
    * the `assoc_rules` arithmetic on the token domain; no libm log
    * enters the oracle compare). Plan shape: bigram cells and unigram
    * cells are two SCAN-STAGE hash aggregates over the corpus (both
    * collapse to |vocab²| / |vocab| cells with map-side combine —
    * cheaper than pinning the tokenized corpus for one-scan reuse);
    * the lift join then runs entirely on cells, with the unigram side
    * broadcast. The c_xy ≥ 5 support floor kills the hapax pairs
    * whose lift is maximal but meaningless (the assoc_rules decimal
    * caveat applies: c_xy·N·10⁶ needs decimal(38) once N approaches
    * 3·10⁶ bigrams·10⁶-lift — loud under ANSI, not silent).
    */
  def pmiBigrams(s: SparkSession, dir: String): DataFrame = {
    // 0-based index over the size-1 prefix slice keeps toks[i+1] in
    // bounds (the inverted_index HOF guard)
    val pairsExpr = expr(
      """transform(slice(toks, 1, greatest(size(toks) - 1, 0)),
        |          (x, i) -> struct(x AS x, toks[i + 1] AS y))""".stripMargin)
    // NOT spread (r15 A/B: 0.886 vs 0.868 best-of-4 — a wash): unlike
    // posting_delta/inverted_index, the three kernel passes here feed
    // scan-stage hash aggregates that collapse to |vocab²|-bounded
    // cells with map-side combine, so the exchange buys parallelism
    // the aggregate's own shuffle already provides
    val docs = t(s, dir, "documents")
      .select(graft.ops.Dedup.tokens(col("text")).as("toks"))
    val bg = docs.select(explode(pairsExpr).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 5)
    // pinned: the unigram cell table feeds BOTH broadcast sides (x
    // and y) — without the pin each side re-explodes the corpus
    val uni = graft.ops.Dedup.materialize(
      docs.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c_w")))
    val nb = docs.select(
      sum(greatest(size(col("toks")) - 1, lit(0)).cast("long")).as("nb"))
    bg.join(broadcast(uni.select(col("w").as("x"), col("c_w").as("c_x"))),
        Seq("x"))
      .join(broadcast(uni.select(col("w").as("y"), col("c_w").as("c_y"))),
        Seq("y"))
      .crossJoin(broadcast(nb))
      .select(col("x"), col("y"), col("c_xy"), col("c_x"), col("c_y"),
        expr("c_xy * nb * 1000000 div (c_x * c_y)").as("lift_e6"))
      .orderBy(col("lift_e6").desc, col("x"), col("y"))
      .limit(20)
  }

  /** Rare-phrase inverted index: full posting lists (sorted doc ids,
    * comma-joined — the comparator takes no array columns) for every
    * word BIGRAM with document frequency ≤ 20 (phrase-query support —
    * the unigram vocabulary here is closed at 31 terms, so bigrams are
    * where rarity lives). Plan shape for the 100 TB index build:
    * gram-explode → distinct gives the (gram, doc) posting set;
    * document frequency is a COUNT aggregate over that compact pair
    * table; the df filter is applied BEFORE any posting list is
    * assembled (join back onto the pair set), so a stopword phrase's
    * posting list — millions of doc ids at corpus scale — is never
    * collected anywhere. The only list ever built is a rare gram's
    * (≤ 20 ids by construction).
    */
  def invertedIndex(s: SparkSession, dir: String): DataFrame = {
    // adjacent-token bigrams via HOF over the token array: i is the
    // 0-based index in the size-1 prefix slice, so toks[i+1] is always
    // in bounds (no ANSI out-of-bounds throw possible)
    val grams = expr(
      """transform(slice(toks, 1, greatest(size(toks) - 1, 0)),
        |          (x, i) -> concat(x, ' ', toks[i + 1]))""".stripMargin)
    // persisted: the df aggregate and the posting-list join both read
    // the pair set — without the pin the gram explode + distinct
    // shuffle (the widest stage) runs twice
    // spread: tokenize + bigram explode is the CPU body; the
    // single-file scan would serialize it (guide §2.5 — the
    // inverted_delta fix, applied here r15 after posting_delta
    // profiled a 1-task 0.8 s cpu≈wall kernel stage)
    val post = graft.ops.Dedup.spread(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), graft.ops.Dedup.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(grams).as("gram"))
      .distinct()
      .persist()
    val rare = post.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 20)
    val out = post.join(rare, Seq("gram"))
      .groupBy(col("gram"), col("df"))
      .agg(array_join(
        transform(array_sort(collect_list(col("doc_id"))),
          x => x.cast("string")), ",").as("postings"))
    // materialize-then-unpersist: the rare-gram index is df-bounded
    // and small; don't leave the wide pair-set cache resident
    val pinned = graft.ops.Dedup.materialize(out)
    post.unpersist()
    pinned.orderBy(col("gram"))
  }

  /** Delta-encoded posting lists — the compression layout every real
    * inverted index ships (Lucene/ES doc-id deltas + varint): postings
    * sorted by doc id are stored as first-id + gaps, shrinking ids
    * from O(log maxDoc) to O(log gap) bits. Same scale discipline as
    * `inverted_index`: the df band filter joins back BEFORE posting
    * assembly, so stopword-grade lists are never collected, and each
    * collect_list is df-bounded (≤ 50) by construction. The delta
    * transform itself is a scan-stage HOF over the assembled array
    * (try_element_at keeps ANSI mode throw-free at i = 0); the oracle
    * recomputes the identical gaps with DuckDB list lambdas, so the
    * encoding — not just the list — is hash-pinned.
    */
  def postingDelta(s: SparkSession, dir: String): DataFrame = {
    val grams = expr(
      """transform(slice(toks, 1, greatest(size(toks) - 1, 0)),
        |          (x, i) -> concat(x, ' ', toks[i + 1]))""".stripMargin)
    // spread before the tokenize + bigram-explode kernel (guide §2.5
    // — same fix as inverted_index/inverted_delta; r15)
    val post = graft.ops.Dedup.spread(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), graft.ops.Dedup.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(grams).as("gram"))
      .distinct()
      .persist()
    val mid = post.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 50))
    val out = post.join(mid, Seq("gram"))
      .groupBy(col("gram"), col("df"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids"))
      .withColumn("postings_delta", expr(
        """array_join(transform(ids, (x, i) ->
          |  CAST(IF(i = 0, x, x - try_element_at(ids, i)) AS STRING)), ',')"""
          .stripMargin))
      .select(col("gram"), col("df"), col("postings_delta"))
    // materialize-then-unpersist, as invertedIndex
    val pinned = graft.ops.Dedup.materialize(out)
    post.unpersist()
    pinned.orderBy(col("gram"))
  }

  /** INCREMENTAL inverted-index maintenance — the retrieval member of
    * the maintenance family (`hll_incremental` registers,
    * `minhash_incremental` LSH buckets, `ann_*_delta` lists,
    * `range_shard_delta` histogram cells): the stored index state is
    * the df ≤ 20 posting lists PLUS the over-band STOP LIST (gram,
    * df) — the piece naive designs drop, and without which a delta
    * batch would RESURRECT a stopword gram with incomplete postings
    * (its base postings were never stored; Lucene keeps df for every
    * term for exactly this reason). Maintenance is then O(|Δ| +
    * touched grams): delta postings left-anti the stop list, FULL
    * OUTER merge with the stored lists (sorted-array concat —
    * additive, no raw-history rescan), and the post-merge df ≤ 20
    * band drops base grams the delta pushed over. The contract is
    * the family's: merged ≡ the full-corpus recompute, so the oracle
    * is `inverted_index`'s verbatim — every posting list
    * hash-compared.
    */
  def invertedDelta(s: SparkSession, dir: String): DataFrame = {
    val grams = expr(
      """transform(slice(toks, 1, greatest(size(toks) - 1, 0)),
        |          (x, i) -> concat(x, ' ', toks[i + 1]))""".stripMargin)
    def pairs(pred: org.apache.spark.sql.Column) =
      // spread: tokenize + bigram explode is the CPU body; the
      // single-file scan would serialize it (guide §2.5)
      graft.ops.Dedup.spread(
        t(s, dir, "documents").filter(pred)
          .select(col("doc_id"), col("text")))
      .select(col("doc_id"), graft.ops.Dedup.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(grams).as("gram"))
      .distinct()
    val basePairs = pairs(pmod(col("doc_id"), lit(7)) =!= 0).persist()
    val baseDf = basePairs.groupBy(col("gram"))
      .agg(count(lit(1)).as("df_b")).persist()
    // the stored state: in-band posting lists + the over-band stop list
    val baseIndex = basePairs
      .join(baseDf.filter(col("df_b") <= 20), Seq("gram"))
      .groupBy(col("gram"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids_b"))
    val stop = baseDf.filter(col("df_b") > 20).select(col("gram"))
    val deltaPost = pairs(pmod(col("doc_id"), lit(7)) === 0)
      .join(stop, Seq("gram"), "left_anti")
      .groupBy(col("gram"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ids_d"))
    val empty = array().cast("array<bigint>")
    val merged = baseIndex.join(deltaPost, Seq("gram"), "full_outer")
      .select(col("gram"), array_sort(concat(
        coalesce(col("ids_b"), empty),
        coalesce(col("ids_d"), empty))).as("ids"))
      .filter(size(col("ids")) <= 20)
      .select(col("gram"), size(col("ids")).cast("long").as("df"),
        array_join(transform(col("ids"), x => x.cast("string")), ",")
          .as("postings"))
    val pinned = graft.ops.Dedup.materialize(merged)
    basePairs.unpersist()
    baseDf.unpersist()
    pinned.orderBy(col("gram"))
  }

  /** Unigram LM surprisal (CCNet-style quality signal) in EXACT integer
    * arithmetic: per-document mean inverse unigram probability,
    * `surprisal_e6 = (Σ_t tf_t · min(10⁶·N div cnt_t, 10¹²)) div n_tokens`
    * over a TOP-256 vocabulary (count desc, token asc tie-break);
    * out-of-vocabulary tokens take the 10¹² cap (max rarity).
    *
    * Overflow discipline (ANSI mode throws on long overflow, so this is
    * correctness, not hygiene): 10⁶·N is NEVER computed directly — at
    * 100 TB, N ~ 10¹³ tokens and the product exceeds int64. The cap
    * regime (cnt ≤ N div 10⁶) is decided by division alone, and the
    * uncapped regime computes the exact quotient as
    * `(N div cnt)·10⁶ + ((N mod cnt)·10⁶) div cnt` — algebraically
    * identical to `(10⁶·N) div cnt`, with every intermediate < 10¹²
    * (quotient < 10⁶ by the regime test; remainder < cnt, and the
    * remainder product only overflows past a 9.2·10¹²-occurrence
    * token TYPE, beyond any real vocabulary distribution). The
    * per-document sum Σ tf·invp runs in DECIMAL(38,0) (a 9.2·10⁶-token
    * document would overflow the long form); only the final BIGINT
    * mean leaves the aggregate.
    *
    * Plan shape: ONE corpus explode → compact (doc, token, tf) table,
    * pinned once and released on return; corpus counts + total-N are
    * aggregates over that cache; the capped vocabulary joins back as a
    * BROADCAST dimension and N as a broadcast scalar, so the per-token
    * scoring is map-side — the only shuffles after the explode carry
    * (doc, token, tf) and (doc, partial sums).
    */
  /** Interpolated Kneser–Ney bigram LM (Kneser & Ney, ICASSP 1995;
    * Chen & Goodman 1998 eq. 4.«interpolated» form) trained on the
    * corpus, emitted as the smoothed probability table for every
    * OBSERVED bigram — the n-gram-LM training step of a data
    * pipeline (quality LMs for perplexity filtering are trained
    * exactly this way, cf. CCNet/KenLM) as one Spark job.
    *
    *   P(w|v) = (c(v,w) − D)/c(v) + D·N₁₊(v,·)/c(v) · N₁₊(·,w)/N₁₊(··)
    *
    * with absolute discount D = 3/4. Every quantity is an integer
    * count, and with D = 3/4 each term is a ratio of int64 products,
    * so the fixed-point form is EXACT:
    * `term1 = (4·c_vw − 3)·10¹² DIV (4·c_v)`,
    * `term2 = 3·N₁₊(v,·)·N₁₊(·,w)·10¹² DIV (4·c_v·N₁₊(··))`,
    * `p_e12 = term1 + term2` — both terms floored identically in
    * DECIMAL(38,0)/HUGEINT, so DuckDB replays the trained model
    * hash-exact. Numerators stay under 38 digits through 10¹⁴ token
    * counts and 10⁸-type vocabularies.
    *
    * Shape: bigram extraction is a scan-stage `transform` over the
    * token array (no positional self-join); ONE shuffle builds the
    * bigram-type table, everything downstream aggregates or joins
    * that — c(v)/N₁₊(v,·) and N₁₊(·,w) are vocab-bounded dimensions
    * (AQE broadcasts them at this size; at web-scale vocab they stay
    * sort-merge equi-joins on the type table, never touching the
    * corpus again), N₁₊(··) rides in as a broadcast 1-row aggregate.
    */
  /** The KN training pipeline on an arbitrary document frame —
    * extracted so `kn_bigram` (train on everything) and `kn_apply`
    * (train on a split, score held-out) share one implementation.
    * Returns the pinned model table (v, w, c_vw, p_e12), unordered.
    */
  private def knModelFrom(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(graft.ops.Dedup.tokens(col("text")).as("tks"))
      .filter(size(col("tks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(tks) - 2), i -> struct(tks[i] AS v, tks[i+1] AS w))")).as("b"))
      .select(col("b.v").as("v"), col("b.w").as("w"))
    val types = bg.groupBy(col("v"), col("w"))
      .agg(count(lit(1)).as("c_vw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ctx = types.groupBy(col("v"))
      .agg(sum(col("c_vw")).as("c_v"), count(lit(1)).as("n1_v"))
    val cont = types.groupBy(col("w")).agg(count(lit(1)).as("n1_w"))
    val nt = types.agg(count(lit(1)).as("n_types"))
    val out = types
      .join(ctx, Seq("v")).join(cont, Seq("w")).crossJoin(broadcast(nt))
      .withColumn("p_e12",
        expr("""CAST((CAST(4 * c_vw - 3 AS DECIMAL(38,0)) * 1000000000000)
                     DIV (CAST(c_v AS DECIMAL(38,0)) * 4) AS BIGINT)
                + CAST((CAST(3 AS DECIMAL(38,0)) * n1_v * n1_w * 1000000000000)
                       DIV (CAST(c_v AS DECIMAL(38,0)) * 4 * n_types) AS BIGINT)"""))
      .select(col("v"), col("w"), col("c_vw"), col("p_e12"))
    val pinned = graft.ops.Dedup.materialize(out)
    types.unpersist()
    pinned
  }

  def knBigram(s: SparkSession, dir: String): DataFrame =
    knModelFrom(t(s, dir, "documents")).orderBy(col("v"), col("w"))

  /** Train-then-apply: the Kneser–Ney model trained on the 10%
    * doc_id-split of the corpus scores the held-out 90% — the actual
    * pipeline shape (fit a filter model on a reference split, score
    * candidates), where `kn_bigram` only pins the training step. Per
    * held-out document: bigram count, how many bigrams the model
    * knows, and the summed e12 probability mass of the known ones —
    * all exact integers (p_e12 ≤ 10¹², so a 10⁶-bigram document sums
    * to ≤ 10¹⁸, inside int64; the oracle casts DuckDB's HUGEINT sum
    * back). At scale the scoring join is a plain (v, w) equi-join of
    * the corpus bigram stream against the model table — the model
    * rides whatever side is smaller (AQE broadcasts a pruned
    * vocabulary model; a web-scale model stays sort-merge).
    */
  def knApply(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model = knModelFrom(docs.filter(col("doc_id") % 10 === 0))
      .select(col("v"), col("w"), col("p_e12"))
    val held = docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), graft.ops.Dedup.tokens(col("text")).as("tks"))
      .filter(size(col("tks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(tks) - 2), i -> struct(tks[i] AS v, tks[i+1] AS w))")).as("b"))
      .select(col("doc_id"), col("b.v").as("v"), col("b.w").as("w"))
    held.join(model, Seq("v", "w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        count(col("p_e12")).as("n_known"),
        coalesce(sum(col("p_e12")), lit(0L)).as("score_e12"))
      .orderBy(col("doc_id"))
  }

  def lmSurprisal(s: SparkSession, dir: String): DataFrame = {
    val tf = t(s, dir, "documents")
      .select(col("doc_id"), explode(graft.ops.Dedup.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c = tf.groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
    val vocab = c.orderBy(col("cnt").desc, col("token")).limit(256)
    val nTotal = c.agg(sum(col("cnt")).as("n_total"))
    val out = tf
      .join(broadcast(vocab), Seq("token"), "left")
      .crossJoin(broadcast(nTotal))
      .withColumn("invp_e6",
        when(col("cnt").isNull || expr("cnt <= n_total DIV 1000000"),
          lit(1000000000000L))
          .otherwise(expr(
            "(n_total DIV cnt) * 1000000 + ((n_total % cnt) * 1000000) DIV cnt")))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        expr("""CAST(FLOOR(sum(CAST(tf AS DECIMAL(38,0)) * invp_e6)
                           / sum(tf)) AS BIGINT)""").as("surprisal_e6"))
    val pinned = graft.ops.Dedup.materialize(out)
    tf.unpersist()
    pinned.orderBy(col("doc_id"))
  }

  /** DSIR-style domain-targeted data selection (Xie et al., "Data
    * Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): each document scored by how much more likely its
    * tokens are under the TARGET domain's unigram LM (here lang='en',
    * the corpus's majority slice) than under the RAW corpus LM, then
    * the top 25% by score selected. Where the paper hashes n-grams
    * into a fixed bucket space to bound the vocabulary, this exact
    * variant keeps raw tokens (the vocab key is the shuffle key
    * either way; hashing is a drop-in kernel swap that only shrinks
    * the dimension table) so the oracle can replay it verbatim.
    *
    * Arithmetic is the lm_surprisal fixed-point discipline applied
    * twice: per token, capped inverse probabilities
    * `invp_X_e6 ≈ 1e6·(N_X + V)/(cnt_X + 1)` (add-one smoothing,
    * quotient-remainder decomposition so no intermediate exceeds
    * int64 at 100 TB token counts, 1e12 cap) for X ∈ {target, raw},
    * and the importance ratio `r_e6 = (invp_raw_e6 · 1e6) DIV
    * invp_tgt_e6` — algebraically p_tgt/p_raw in e6 fixed point,
    * ≤ 1e18 by the cap so the product stays in int64. The document
    * score is the tf-weighted mean ratio (DECIMAL(38,0) sum, BIGINT
    * out), exactly DuckDB-replayable.
    *
    * The top-25% cut uses NO global sort, limit, or collect: global
    * rank = two-level prefix sum over score BUCKETS (`score_e6 DIV
    * 16384`) — per-bucket row_number windows plus one cumulative
    * window over the per-bucket counts, the pack_sequences
    * decomposition. The bucket domain is bounded by the RATIO RANGE
    * (a corpus-independent quantity — scores are probability ratios,
    * not counts), so the offset window's input stays tiny at any
    * scale; `n_sel = ceil(n/4)` rides in as a broadcast 1-row
    * aggregate, never a driver value.
    */
  def dsirSelect(s: SparkSession, dir: String): DataFrame = {
    val (out, tf, vocab) = dsirSelectFrame(s, dir)
    val pinned = graft.ops.Dedup.materialize(out)
    vocab.unpersist()
    tf.unpersist()
    pinned.orderBy(col("doc_id"))
  }

  /** [[dsirSelect]] before materialization — the plan PlanSpec pins
    * (the public entry returns a checkpoint scan with no plan left to
    * assert on). Returns the result frame plus the two persisted
    * intermediates so the caller controls unpersist timing.
    */
  private[graft] def dsirSelectFrame(
      s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    // spread: the tokenize+explode is the expensive pass and the
    // single-file scan would run it on one core (guide §2.5)
    val tf = graft.ops.Dedup.spread(
        docs.select(col("doc_id"), col("lang"), col("text")))
      .select(col("doc_id"), col("lang"),
        explode(graft.ops.Dedup.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("lang"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // both LMs' counts in ONE token-key aggregation (a conditional
    // sum beats two aggs + a join re-shuffle); pinned because totals
    // and ratios both read it
    val vocab = tf.groupBy(col("token")).agg(
        sum(col("tf")).as("cnt_raw"),
        sum(when(col("lang") === "en", col("tf")).otherwise(0L))
          .as("cnt_tgt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = vocab.agg(
      sum(col("cnt_raw")).as("n_raw"),
      sum(col("cnt_tgt")).as("n_tgt"),
      count(lit(1)).as("v"))
    // capped fixed-point inverse probability, lm_surprisal's exact
    // overflow decomposition (see its scaladoc for the bound argument)
    def invpE6(n: String, c: String) =
      when(expr(s"$c <= ($n) DIV 1000000"), lit(1000000000000L))
        .otherwise(expr(
          s"(($n) DIV ($c)) * 1000000 + ((($n) % ($c)) * 1000000) DIV ($c)"))
    val ratios = vocab.crossJoin(broadcast(totals))
      .withColumn("invp_t_e6", invpE6("n_tgt + v", "cnt_tgt + 1"))
      .withColumn("invp_r_e6", invpE6("n_raw + v", "cnt_raw + 1"))
      .select(col("token"),
        expr("(invp_r_e6 * 1000000) DIV invp_t_e6").as("r_e6"))
    val scored0 = tf
      .join(ratios, Seq("token")) // token-key shuffle join; vocab ∝ Zipf
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        expr("""CAST(FLOOR(sum(CAST(tf AS DECIMAL(38,0)) * r_e6)
                           / sum(tf)) AS BIGINT)""").as("score_e6"))
    // scored feeds three consumers (bucket offsets, n_sel, the ranked
    // output) — deliberately NOT persisted: the n_sel branch collapses
    // to a docs count and the offsets branch prunes to score_e6 only
    // under Catalyst, both cheaper than materializing full rows (the
    // expensive tf pipeline above IS pinned)
    val scored = docs.select(col("doc_id"))
      .join(scored0, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("score_e6"), lit(0L)).as("score_e6"))
      .withColumn("bkt", expr("score_e6 DIV 16384"))
    // two-level global rank: within-bucket row_number + cumulative
    // offsets over the (tiny, ratio-range-bounded) bucket domain
    val wIn = Window.partitionBy(col("bkt"))
      .orderBy(col("score_e6").desc, col("doc_id"))
    val offsets = scored.groupBy(col("bkt"))
      .agg(count(lit(1)).as("bn"))
      .withColumn("offset",
        coalesce(sum(col("bn")).over(Window.orderBy(col("bkt").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("offset"))
    val nSel = scored.agg(expr("(count(1) + 3) DIV 4").as("n_sel"))
    val out = scored
      .withColumn("rk_in", row_number().over(wIn))
      .join(broadcast(offsets), Seq("bkt"))
      .crossJoin(broadcast(nSel))
      .withColumn("selected",
        when(col("offset") + col("rk_in") <= col("n_sel"), 1).otherwise(0))
      .select(col("doc_id"), col("n_tokens"), col("score_e6"),
        col("selected"))
    (out, tf, vocab)
  }

  /** Training-sequence packing: documents in deterministic doc_id order
    * are laid head-to-tail on a global token axis; `bin_id =
    * seq_start div budget` assigns each document to its 2048-token
    * training bin (streaming first-fit, the deterministic relaxation of
    * bin packing a data pipeline actually runs). The global running sum
    * is a TWO-LEVEL distributed prefix sum: within-bucket cumulative
    * sums run partitioned on `bucket = doc_id div 1000`, and only the
    * per-bucket totals (1/1000th of the rows) pass through the
    * single-partition offset window — at 100 TB a third level bounds
    * that too; no full-table single-partition window ever runs. The
    * DuckDB oracle is the plain one-level window, value-checking the
    * decomposition.
    */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 2048L
    val bucketW = 1000L
    val base = t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"doc_id DIV $bucketW"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    // unpartitioned window audit (r15): offsets run over the
    // post-aggregation bucket table (|rows| / bucketW cells), not rows
    val offsets = base.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("btot"))
      .withColumn("offset",
        coalesce(sum(col("btot")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("offset"))
    base.withColumn("cum_in", sum(col("n_tokens")).over(wIn))
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("seq_start", col("offset") + col("cum_in") - col("n_tokens"))
      .withColumn("bin_id", expr(s"seq_start DIV $budget"))
      .select(col("doc_id"), col("n_tokens"), col("seq_start"), col("bin_id"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/val/test split (≈90/5/5): assignment by the
    * first md5 hex byte of the DOC ID — engine- and plan-independent
    * (the `sample_deterministic` draw, reused as a partitioner), so
    * the split is stable under re-runs, repartitions, and engine
    * swaps, and a document can never migrate between splits when the
    * corpus grows (its draw depends only on its own id). Map-only.
    */
  def datasetSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
          .as("draw"))
      .select(col("doc_id"),
        when(col("draw") < "0d", "test")
          .when(col("draw") < "1a", "val")
          .otherwise("train").as("split"))
      .orderBy(col("doc_id"))

  /** Systematic PPS (probability-proportional-to-size) sample
    * (Madow 1949): ~200 documents drawn with inclusion probability
    * ∝ n_chars, deterministically — a document is selected iff a
    * multiple of step = ⌊ΣW/200⌋ falls inside its cumulative-weight
    * interval (cw − w, cw]. This is the exact-integer, oracle-exact
    * counterpart of the usual rand()^(1/w) weighted reservoir: byte-
    * weighted corpus subsampling (larger documents proportionally more
    * likely) with zero RNG. Plan shape: the global cumulative sum is
    * the `pack_sequences` TWO-LEVEL prefix sum (within-bucket window
    * + broadcast bucket offsets) — no single-partition global
    * window; the total is a 1-row broadcast scalar join.
    */
  def ppsSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketW = 1000L
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
      .withColumn("bucket", expr(s"doc_id DIV $bucketW"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    // unpartitioned window audit (r15): bucket-table cells, not rows
    val offsets = base.groupBy(col("bucket"))
      .agg(sum(col("n_chars")).as("btot"))
      .withColumn("offset",
        coalesce(sum(col("btot")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("offset"))
    val tot = base.agg(sum(col("n_chars")).as("tw"))
    base.withColumn("cum_in", sum(col("n_chars")).over(wIn))
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("cw", col("offset") + col("cum_in"))
      .crossJoin(broadcast(tot))
      .withColumn("step", expr("tw DIV 200"))
      .filter(expr("(cw - n_chars) DIV step < cw DIV step"))
      .select(col("doc_id"), col("n_chars"), col("cw"))
      .orderBy(col("doc_id"))
  }

  /** End-to-end training-data pipeline — the capstone composition a
    * user of this library actually ships: (1) the pretraining filter
    * chain (≥20 tokens ∧ language identified ∧ quality ≥ 0.5, the
    * same predicates `filter_funnel` counts), (2) exact dedup on the
    * full-text digest keeping the lowest doc_id, (3) token-budget
    * sequence packing of the survivors (the `pack_sequences`
    * two-level prefix sum — bucket cumsums + a tiny offset window, no
    * full-table single-partition sort). One corpus scan feeds the
    * filter; everything after the digest groupBy shuffles compact
    * (digest/doc_id/count) rows. The oracle recomposes all three
    * stages in one SQL chain.
    */
  def trainingPipeline(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 2048L
    val bucketW = 1000L
    // pinned: the compact (doc_id, digest, n_tokens) base feeds BOTH
    // the keep-min aggregate and the semi-join probe — Catalyst does
    // not share subplans across join inputs, so without this the
    // three text kernels + md5 would re-scan every document twice
    val filtered = graft.ops.Dedup.materialize(
      // NOT spread (r15 A/B: best-of-4 1.147 spread vs 0.824 unspread,
      // clean controls): the kernel chain is ~0.4 s cpu on the scan
      // task, but spreading exchanges the FULL text column — the
      // sort-before-repartition + fetch of fat rows costs ~2× what the
      // kernel parallelism recovers (the write-gate lesson: keyless
      // full-width repartitions of fat rows don't pay at this scale)
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextOps.langId(col("text")).as("__lang"),
          TextOps.qualityScoreE4(col("text")).as("__qe4"))
        .filter(col("n_tokens") >= 20 && col("__lang") =!= "und" &&
          col("__qe4") >= 5000L)
        .select(col("doc_id"), md5(col("text")).as("__dig"), col("n_tokens")))
    val keepIds = filtered.groupBy(col("__dig"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val base = filtered.join(keepIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("n_tokens"))
      .withColumn("bucket", expr(s"doc_id DIV $bucketW"))
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    // unpartitioned window audit (r15): offsets run over the
    // post-aggregation bucket table (|rows| / bucketW cells), not rows
    val offsets = base.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("btot"))
      .withColumn("offset",
        coalesce(sum(col("btot")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("offset"))
    base.withColumn("cum_in", sum(col("n_tokens")).over(wIn))
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("seq_start", col("offset") + col("cum_in") - col("n_tokens"))
      .withColumn("bin_id", expr(s"seq_start DIV $budget"))
      .select(col("doc_id"), col("n_tokens"), col("seq_start"), col("bin_id"))
      .orderBy(col("doc_id"))
  }

  /** Conjunctive keyword search ("hash AND join AND filter"): for a
    * SMALL fixed term set the right plan is a scan-stage containment
    * predicate — tokenize (native kernel), intersect with the literal
    * term set, compare sizes — ZERO shuffle, full predicate
    * parallelism, no inverted index needed. The inverted-index shape
    * (explode → posting lists) only wins when the term set or query
    * load is large enough to amortize the index build; that path is
    * what `corpus_vocab`/`tfidf_top_terms` exercise.
    */
  def keywordSearch(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("hash", "join", "filter")
    t(s, dir, "documents")
      .filter(size(array_intersect(
        array_distinct(graft.ops.Dedup.tokens(col("text"))),
        typedLit(terms))) === terms.length)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** The fixed blocklist for `blocklist_match`. Ids are list position.
    * Deliberately includes the suffix/prefix traps that distinguish a
    * real Aho–Corasick from per-pattern scans: "sort" is a proper
    * suffix of "merge sort" (emit-chain inheritance must surface BOTH
    * on a "merge sort" hit), "table" is a proper prefix of "table
    * scan", and "key order sort" overlaps "sort" at its tail.
    */
  val BlocklistPatterns: Seq[String] = Seq(
    "hash join",      // 0
    "merge sort",     // 1
    "table scan",     // 2
    "batch stream",   // 3
    "slow query",     // 4
    "sort",           // 5: proper suffix of 1
    "table",          // 6: proper prefix of 2
    "key order sort", // 7: tail overlaps 5
    "window dup",     // 8
    "scan merge part" // 9
  )

  /** Blocklist / phrase-list matching: every (document, pattern) pair
    * where the pattern occurs as a substring, via ONE Aho–Corasick
    * pass per document ([[graft.functions.AhoCorasick]]). The naive
    * formulation is a documents × patterns contains-join — O(P·n)
    * per document and a P-way row fan-out before the filter; the
    * automaton is O(n + matches) per document with NO join in the
    * plan (PlanSpec pins this), which is what makes a 10⁵-phrase
    * blocklist affordable over a 100 TB corpus: the corpus is read
    * once, the phrase list rides to executors once inside the plan.
    * The oracle states the semantics AS the naive join — DuckDB
    * `contains` per pattern — so the one-pass result is hash-checked
    * against the P-scan definition.
    */
  def blocklistMatch(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.dsl.ac_match_ids
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(ac_match_ids(col("text"), BlocklistPatterns)).as("pattern_id"))
      .orderBy(col("doc_id"), col("pattern_id"))
  }

  /** The DECLARATIVE twin of `blocklist_match`: written deliberately
    * as the naive per-pattern `contains` OR-chain — the form users
    * and SQL generators produce — and left to the session's
    * [[graft.plans.CollapseContainsOr]] rule to collapse into the
    * one-pass Aho–Corasick automaton (every [[graft.GraftSession]]
    * session carries it). Semantics are rewrite-independent (the oracle IS
    * the naive chain), so the driver hash-checks the query THROUGH
    * the rewrite; CollapseContainsOrSpec separately pins that the
    * rewrite fires and that results are identical with it disabled.
    * Downstream is a plain per-language rollup of the survivors.
    */
  def blocklistDeclared(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(BlocklistPatterns.map(p => col("text").contains(p))
        .reduce(_ || _))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))

  /** BM25 ranking (Robertson et al., TREC-3) of the corpus against the
    * fixed query {hash, join, filter} — the length-normalized scoring
    * `keyword_search`'s boolean match and `tfidf_top_terms`' raw tf·idf
    * both lack, and the standard relevance signal for query-targeted
    * corpus curation. Kept in EXACT integer arithmetic (a log()/float
    * idf would be libm-dependent across engines): with k1 = 6/5 and
    * b = 3/4, the per-term saturation tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
    * clears to the integer ratio 22·tf·â / (10·tf·â + 3·â + 9·dl·10³)
    * where â = (Σdl·10³) DIV N is the milli-token average document
    * length; idf takes the same N DIV df surrogate as
    * `tfidf_top_terms`. score_e6 = Σ_t idf_s·((22·tf·â·10⁶) DIV denom).
    *
    * Overflow discipline (ANSI throws on int64 overflow, so this is
    * correctness at 100 TB): tf saturates at 10⁴ BEFORE entering the
    * formula (BM25's whole point is tf saturation — past 10⁴ the
    * contribution is within 1e-4 of its k1+1 asymptote), so the
    * widest product 22·tf̂·â·10⁶ ≤ 2.2·10¹¹·â stays in int64 for any
    * â ≤ 4·10⁷ (a 40k-token average document — an order of magnitude
    * above web-corpus reality, and â is corpus-shape-bounded, not
    * corpus-size-bounded). idf_s·contrib ≤ N·2.2·10⁶ fits int64 up to
    * N ~ 4·10¹² documents.
    *
    * Plan shape: one corpus scan feeds both the (doc, term) tf
    * aggregate (the explode is pre-filtered to the 3 query terms, so
    * the shuffle carries at most |Q|·|docs| compact rows, never the
    * token stream) and the per-doc length table; df rides a count
    * window over the tf table (tfidf's re-explode-avoidance trick);
    * the corpus stats (N, Σdl, â) are a 1-row broadcast.
    */
  def bm25Rank(s: SparkSession, dir: String): DataFrame =
    bm25Scores(s, dir, Seq("hash", "join", "filter"))
      .orderBy(col("score_e6").desc, col("doc_id")).limit(50)

  /** The scored (doc_id, score_e6, n_terms) BM25 frame shared by
    * [[bm25Rank]] and the [[hybridRank]] lexical leg.
    */
  private def bm25Scores(s: SparkSession, dir: String,
                         terms: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), graft.ops.Dedup.tokens(col("text")).as("toks"))
    val dl = docs.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("t_tokens"))
      .withColumn("avg_e3", expr("t_tokens * 1000 DIV n_docs"))
      .select(col("n_docs"), col("avg_e3"))
    val tf = docs
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token"))
      .agg(least(count(lit(1)), lit(10000L)).as("tfc"))
    tf.withColumn("dfc", count(lit(1)).over(Window.partitionBy(col("token"))))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib_e6",
        expr("""(n_docs DIV dfc) *
                ((22 * tfc * avg_e3 * 1000000)
                 DIV (10 * tfc * avg_e3 + 3 * avg_e3 + 9 * dl * 1000))"""))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib_e6")).as("score_e6"),
        count(lit(1)).as("n_terms"))
  }

  /** Hybrid retrieval by reciprocal-rank fusion (Cormack, Clarke &
    * Buettcher, SIGIR 2009): the lexical leg's BM25 top-50 (the exact
    * [[bm25Rank]] list) fused with a dense leg — cosine top-50
    * against one query embedding (vec_id 0, the doc_id↔vec_id-aligned
    * corpus) — by RRF(d) = Σ_legs 1/(60 + rank_leg(d)), held in e9
    * fixed point so the fused score is exact integer. Each leg is a
    * `TakeOrderedAndProject` top-k (never a global sort — the
    * row_number windows rank 50-row frames); the dense similarities
    * follow the ann_topk convention (round(cos, 4), id tie-break)
    * that keeps float ranking engine-portable. This is the standard
    * RAG/curation retrieval stack — sparse ∪ dense candidate lists,
    * rank-fused without score calibration — as one declarative plan.
    */
  def hybridRank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.dsl.cosine_sim
    val lexTop = bm25Scores(s, dir, Seq("hash", "join", "filter"))
      .orderBy(col("score_e6").desc, col("doc_id")).limit(50)
    // unpartitioned window audit (r15): ranks the post-limit(50) table
    val lex = lexTop.withColumn("rank_lex", row_number()
        .over(Window.orderBy(col("score_e6").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank_lex"))
    val emb = t(s, dir, "embeddings")
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val denseTop = emb.crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        round(cosine_sim(col("embedding"), col("qv")), 4).as("sim_r"))
      .orderBy(col("sim_r").desc, col("doc_id")).limit(50)
    // unpartitioned window audit (r15): ranks the post-limit(50) table
    val dense = denseTop.withColumn("rank_dense", row_number()
        .over(Window.orderBy(col("sim_r").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank_dense"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(expr("1000000000 DIV (60 + rank_lex)"), lit(0L))
          + coalesce(expr("1000000000 DIV (60 + rank_dense)"), lit(0L)))
          .as("rrf_e9"),
        col("rank_lex").cast("long").as("rank_lex"),
        col("rank_dense").cast("long").as("rank_dense"))
      .orderBy(col("rrf_e9").desc, col("doc_id"))
  }

  /** Corpus filter funnel: surviving document counts after each stage
    * of the standard pretraining filter chain (all docs → ≥20 tokens →
    * language identified → quality ≥ 0.5), computed in ONE pass as
    * conditional aggregates over the scan (no per-stage re-scan), then
    * unpivoted to per-stage rows with `stack`.
    */
  def filterFunnel(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(
      TextOps.tokenCount(col("text")).cast("long").as("nt"),
      TextOps.langId(col("text")).as("lp"),
      TextOps.qualityScoreE4(col("text")).as("qe4"))
    val p1 = col("nt") >= 20
    val p2 = p1 && col("lp") =!= "und"
    val p3 = p2 && col("qe4") >= 5000L
    d.agg(
        count(lit(1)).as("c0"),
        sum(when(p1, 1L).otherwise(0L)).as("c1"),
        sum(when(p2, 1L).otherwise(0L)).as("c2"),
        sum(when(p3, 1L).otherwise(0L)).as("c3"))
      .selectExpr("""stack(4,
          0, 'total',      c0,
          1, 'min_tokens', c1,
          2, 'lang_known', c2,
          3, 'quality',    c3) AS (stage_idx, stage, n_kept)""")
      .orderBy(col("stage_idx"))
  }

  /** C4-style corpus-wide line deduplication: documents split into
    * deterministic pseudo-lines (10-token non-overlapping chunks —
    * the testdata has no newlines; real corpora split on `\n`), each
    * distinct line kept ONLY at its first occurrence in (doc_id,
    * line_idx) order, and every document reassembled from its
    * surviving lines. The dedup groupBy shuffles compact (digest,
    * pos) pairs — an md5 digest stands in for the line in the
    * first-occurrence aggregate, so line text moves only through the
    * reassembly join. First-occurrence order is encoded as
    * `pos = doc_id·10⁵ + line_idx` (line counts are bounded well
    * below 10⁵ here; an unbounded corpus uses `min(struct(doc_id,
    * line_idx))` instead). Docs whose every line appeared earlier
    * survive as empty rows — the funnel can then drop them.
    */
  def lineDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.dsl._
    val docs = t(s, dir, "documents")
    // pin the exploded line table: it feeds BOTH the first-occurrence
    // aggregate and the reassembly join — unpinned, each branch would
    // re-chunk and re-digest the whole corpus (same pattern as
    // minhashPairs' signature cache)
    val lines = docs.select(col("doc_id"),
        posexplode(chunk_tokens(col("text"), 10, 10))
          .as(Seq("line_idx", "line")))
      .withColumn("pos", col("doc_id") * 100000L + col("line_idx"))
      .withColumn("dig", md5(col("line").cast("binary")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val firsts = lines.select(col("dig"), col("pos"))
      .groupBy(col("dig")).agg(min(col("pos")).as("keep_pos"))
    val kept = lines.join(firsts, Seq("dig"))
      .filter(col("pos") === col("keep_pos"))
    val agg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("line_idx"), col("line")))),
          x => x.getField("line")), " ").as("clean_text"))
    val out = docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
    val pinned = graft.ops.Dedup.materialize(out)
    lines.unpersist()
    pinned.orderBy(col("doc_id"))
  }

  /** Number of BPE merges trained by `bpe_merges` — small enough that
    * the unrolled DuckDB oracle stays readable, large enough that the
    * merge list exercises multi-character symbols (merges of merges).
    */
  private val BpeMerges = 8

  /** Train-once: `bpe_merges`, `bpe_encode`, and `bpe_roundtrip`
    * all need the SAME deterministic merge table for a corpus dir —
    * exactly how a real pipeline treats a tokenizer (fit once, reuse
    * everywhere). Training is deterministic (lexicographic tie-break),
    * so a cached result is byte-identical to a retrain and correctness
    * cannot depend on cache state.
    */
  private def trainedMerges(s: SparkSession, dir: String): Seq[Bpe.Merge] =
    graft.Memo.value(dir, "bpe")(
      Bpe.train(Bpe.wordDict(t(s, dir, "documents"), "text"), BpeMerges))

  /** BPE tokenizer training over the corpus (Bpe.train): the first
    * [[BpeMerges]] learned merges with their frequency-weighted pair
    * counts. Fully oracle-checked — [[bpeOracle]] replays the whole
    * training loop in DuckDB as an unrolled CTE chain, so every rank,
    * symbol pair, and count is hash-compared, not just gated.
    */
  def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainedMerges(s, dir)
      .toDF()
      .select(col("rank").as("merge_rank"), col("left").as("l"),
        col("right").as("r"), col("n"))
  }

  /** TOKENIZER STABILITY across a corpus refresh — the question a
    * data-refresh cycle must answer before shipping: do the learned
    * merges move when the corpus grows? A tokenizer retrained on the
    * refreshed corpus that diverges at merge rank k re-tokenizes
    * every document differently from rank k on — embeddings, packed
    * sequences, and token budgets computed under the old tokenizer
    * are silently invalidated (the vocabulary twin of
    * `split_stability`'s label-churn problem). Trains on the BASE
    * view (6/7 of documents, the cc_delta convention) and the full
    * corpus, aligns the merge tables rank by rank, and emits the
    * per-rank agreement — the first `agree = 0` row is the
    * invalidation horizon. Both trainings are the fit-once memoized
    * [[graft.ops.Bpe.train]] (word-dict collapse, one pair-count
    * aggregate + 1-row argmax per merge); the oracle unrolls BOTH
    * chains in one WITH under distinct CTE prefixes.
    */
  def bpeDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = graft.Memo.value(dir, "bpe-base")(
      Bpe.train(Bpe.wordDict(
        t(s, dir, "documents").filter(col("doc_id") % 7 =!= 0),
        "text"), BpeMerges))
    val full = trainedMerges(s, dir)
    (1 to BpeMerges).map { i =>
      val b = base.lift(i - 1)
      val f = full.lift(i - 1)
      (i, b.map(_.left).getOrElse(""), b.map(_.right).getOrElse(""),
        f.map(_.left).getOrElse(""), f.map(_.right).getOrElse(""),
        if (b.map(m => (m.left, m.right)) == f.map(m => (m.left, m.right)))
          1 else 0)
    }.toDF("merge_rank", "base_l", "base_r", "full_l", "full_r", "agree")
      .orderBy(col("merge_rank"))
  }

  /** BPE tokenizer application (Bpe.encodeTokenCounts): train the
    * same [[BpeMerges]] merges, then encode every document with them —
    * per-doc word and token counts, all scan-stage (the merge list is
    * folded into the projection as literals; no explode, no shuffle).
    * The oracle replays training AND encoding per document, so the
    * replace-chain fidelity is hash-checked on every doc, not just on
    * the dict.
    */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = trainedMerges(s, dir)
    Bpe.encodeTokenCounts(docs, "text", "doc_id", merges)
      .orderBy(col("doc_id"))
  }

  /** Tokenizer FERTILITY per language — tokens-per-word of the
    * trained BPE, the standard tokenizer-quality table a multilingual
    * pipeline reads before committing to a vocabulary (high fertility
    * = the language pays more sequence length per word). Exact
    * integers: per-language token/word sums from the scan-stage
    * encoder, fertility = tokens·10⁶ DIV words. The oracle replays
    * training AND encoding (the bpe_encode chain) then the rollup.
    */
  def bpeFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val enc = Bpe.encodeTokenCounts(docs, "text", "doc_id",
      trainedMerges(s, dir))
    docs.select(col("doc_id"), col("lang"))
      .join(enc.select(col("doc_id"), col("n_words"), col("n_tokens")),
        Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(sum(coalesce(col("n_words"), lit(0L))).as("n_words"),
        sum(coalesce(col("n_tokens"), lit(0L))).as("n_tokens"))
      .selectExpr("lang", "n_words", "n_tokens",
        "CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (n_tokens * 1000000) DIV n_words END AS fertility_e6")
      .orderBy(col("lang"))
  }

  /** Tokenizer losslessness, pinned: for every word, stripping the
    * separators from its trained-BPE symbol string must reproduce the
    * word exactly (BPE merges only ever JOIN adjacent symbols, so
    * decode is concatenation — any character loss or duplication
    * would be a merge-fold bug, e.g. a mis-padded replace in
    * applyMerge). The oracle states what losslessness REQUIRES —
    * n_ok = n_words for every document, with n_words independently
    * recomputed from the text — so a single mangled word anywhere in
    * the corpus breaks the hash. Same plan shape as `bpe_encode`:
    * training is the iterative driver loop; the checked decode is a
    * zero-shuffle scan-stage fold.
    */
  def bpeRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Column
    val docs = t(s, dir, "documents")
    val merges = trainedMerges(s, dir)
    val words = filter(split(lower(col("text")), "\\s+"),
      (w: Column) => w.rlike("^[a-z]+$"))
    val encoded = transform(words, (w: Column) =>
      merges.foldLeft(concat_ws(" ", split(w, "(?!^)(?!$)"))) {
        (sym, m) => Bpe.applyMerge(sym, m.left, m.right)
      })
    docs.select(col("doc_id"),
      size(words).cast("long").as("n_words"),
      aggregate(
        zip_with(words, encoded, (w: Column, e: Column) =>
          when(translate(e, " ", "") === w, lit(1L)).otherwise(lit(0L))),
        lit(0L), (acc: Column, x: Column) => acc + x).as("n_ok"))
      .orderBy(col("doc_id"))
  }

  /** The shared-by-both-oracles padded literal-replace fixpoint —
    * exactly Bpe.applyMerge's arithmetic (literal `replace`, so Java
    * and RE2 cannot diverge), referencing CTE alias `m` for the merge.
    */
  private val bpeApplied: String = {
    def rep(x: String): String =
      s"replace($x, ' ' || m.l || ' ' || m.r || ' ', ' ' || m.l || m.r || ' ')"
    "trim(" +
      Iterator.iterate("(' ' || sym || ' ')")(rep)
        .drop(Bpe.ReplacePasses).next() + ")"
  }

  /** The unrolled training chain shared by [[bpeOracle]] and
    * [[bpeEncodeOracle]]: `d0` is the char-split word-frequency dict,
    * each level i computes pair counts (`p_i`), the argmax merge
    * (`m_i`, same total order: n DESC, l, r), and the re-symbolized
    * dict (`d_i`) via [[bpeApplied]]. An exhausted pair set empties
    * `m_i` and (via the cross join) every later level, exactly
    * mirroring the engine's early stop.
    */
  /** `docWhere` restricts the training corpus (the drift oracle
    * trains on the base view); `cp` prefixes every CTE name so two
    * chains can coexist in one WITH (the `bpe_drift` replay).
    */
  private def bpeTrainCtes(nMerges: Int, docWhere: String = "TRUE",
                           cp: String = ""): String = {
    val levels = (1 to nMerges).map { i =>
      s"""${cp}p$i AS (
           SELECT p[1] AS l, p[2] AS r, CAST(sum(freq) AS BIGINT) AS n
           FROM (SELECT freq,
                        unnest([[s[j], s[j + 1]] for j in range(1, len(s))]) AS p
                 FROM (SELECT string_split(sym, ' ') AS s, freq FROM ${cp}d${i - 1}))
           GROUP BY 1, 2),
         ${cp}m$i AS (SELECT l, r, n FROM ${cp}p$i ORDER BY n DESC, l, r LIMIT 1),
         ${cp}d$i AS (SELECT $bpeApplied AS sym, freq FROM ${cp}d${i - 1}, ${cp}m$i AS m)"""
    }.mkString(",\n")
    s"""${cp}w0 AS (
         SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
         FROM documents WHERE ($docWhere)),
       ${cp}d0 AS (
         SELECT array_to_string(string_split(w, ''), ' ') AS sym,
                CAST(count(*) AS BIGINT) AS freq
         FROM ${cp}w0 WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY w),
       $levels"""
  }

  /** Drift replay: BOTH training chains (base view, full corpus)
    * unrolled in one WITH under distinct CTE prefixes, ranks aligned
    * with early-stop-tolerant left joins, the agree flag recomputed.
    */
  private def bpeDriftOracle(nMerges: Int): String = {
    val bRanks = (1 to nMerges)
      .map(i => s"SELECT $i AS i, l, r FROM bm$i").mkString(" UNION ALL ")
    val fRanks = (1 to nMerges)
      .map(i => s"SELECT $i AS i, l, r FROM fm$i").mkString(" UNION ALL ")
    s"""WITH ${bpeTrainCtes(nMerges, "doc_id % 7 <> 0", "b")},
       ${bpeTrainCtes(nMerges, "TRUE", "f")},
       br AS ($bRanks), fr AS ($fRanks),
       rk AS (SELECT unnest(range(1, ${nMerges + 1})) AS i)
       SELECT CAST(rk.i AS INTEGER) AS merge_rank,
              coalesce(br.l, '') AS base_l, coalesce(br.r, '') AS base_r,
              coalesce(fr.l, '') AS full_l, coalesce(fr.r, '') AS full_r,
              CAST(CASE WHEN coalesce(br.l, '') = coalesce(fr.l, '')
                         AND coalesce(br.r, '') = coalesce(fr.r, '')
                   THEN 1 ELSE 0 END AS INTEGER) AS agree
       FROM rk LEFT JOIN br ON rk.i = br.i
               LEFT JOIN fr ON rk.i = fr.i
       ORDER BY merge_rank"""
  }

  /** DuckDB replay of Bpe.train as one unrolled CTE chain (see
    * [[bpeTrainCtes]]): every rank, symbol pair, and count is
    * hash-compared, not just gated.
    */
  private def bpeOracle(nMerges: Int): String = {
    val ranks = (1 to nMerges).map { i =>
      s"SELECT $i AS i, l, r, n FROM m$i"
    }.mkString("\n UNION ALL ")
    s"""WITH ${bpeTrainCtes(nMerges)}
       SELECT CAST(i AS INTEGER) AS merge_rank, l, r, n
       FROM ($ranks) ORDER BY merge_rank"""
  }

  /** DuckDB replay of train-then-encode: the training chain's merges
    * `m_1..m_n` are applied per document word (`e_i` levels; a LEFT
    * JOIN + CASE keeps rows intact if a level's merge set is empty,
    * matching the engine folding only over the merges that exist), and
    * docs with zero alpha words survive via the final LEFT JOIN.
    */
  /** The training + per-doc encode chain through `tc` — shared by the
    * per-doc oracle and the per-language fertility rollup.
    */
  private def bpeEncodeChain(nMerges: Int): String = {
    val levels = (1 to nMerges).map { i =>
      s"""e$i AS (
           SELECT doc_id,
                  CASE WHEN m.l IS NULL THEN sym ELSE $bpeApplied END AS sym
           FROM e${i - 1} LEFT JOIN m$i AS m ON true)"""
    }.mkString(",\n")
    s"""WITH ${bpeTrainCtes(nMerges)},
       we AS (
         SELECT doc_id,
                unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
         FROM documents),
       e0 AS (
         SELECT doc_id, array_to_string(string_split(w, ''), ' ') AS sym
         FROM we WHERE regexp_matches(w, '^[a-z]+$$')),
       $levels,
       tc AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(len(string_split(sym, ' '))) AS BIGINT) AS n_tokens
         FROM e$nMerges GROUP BY doc_id)"""
  }

  private def bpeEncodeOracle(nMerges: Int): String =
    bpeEncodeChain(nMerges) + """
       SELECT d.doc_id,
              CAST(coalesce(tc.n_words, 0) AS BIGINT) AS n_words,
              CAST(coalesce(tc.n_tokens, 0) AS BIGINT) AS n_tokens
       FROM documents d LEFT JOIN tc USING (doc_id) ORDER BY d.doc_id"""

  /** The per-language rollup of the same chain: exact integer
    * fertility (tokens·10⁶ DIV words).
    */
  private def bpeFertilityOracle(nMerges: Int): String =
    bpeEncodeChain(nMerges) + """,
       f AS (SELECT d.lang,
                    sum(coalesce(tc.n_words, 0)) AS ws,
                    sum(coalesce(tc.n_tokens, 0)) AS ts
             FROM documents d LEFT JOIN tc USING (doc_id)
             GROUP BY d.lang)
       SELECT lang, CAST(ws AS BIGINT) AS n_words,
              CAST(ts AS BIGINT) AS n_tokens,
              CAST(CASE WHEN ws = 0 THEN 0
                        ELSE (ts * 1000000) // ws END AS BIGINT)
                AS fertility_e6
       FROM f ORDER BY lang"""

  // ------------------------------------------------------------------------
  /** Fixed hyperparameters for the trained quality classifier — the
    * oracle unrolls exactly [[QtIters]] gradient steps, so these are
    * shared compile-time constants, not knobs.
    */
  private val QtIters = 3
  private val QtLr = 0.5

  /** The classifier weights, trained once per dir: the trajectory
    * query and the scorer share one training.
    */
  private def qtTrained(s: SparkSession, dir: String) =
    graft.Memo.value(dir, "qt")(
      graft.ops.Classifier.train(
        graft.ops.Classifier.features(
          t(s, dir, "documents"), "doc_id", "text", "lang"),
        iters = QtIters, lr = QtLr))

  /** In-engine model TRAINING, driver-checked: logistic regression
    * over surface quality features fit by [[graft.ops.Classifier]]'s
    * full-batch GD (rational sigmoid, e12-int64 gradient sums — every
    * arithmetic step shuffle-order-independent), surfacing the WEIGHT
    * TRAJECTORY itself: (iter, w0..w4, sse_e12, n). The oracle
    * recomputes all three steps as unrolled CTEs, so the weights
    * hash-compare as exact doubles — training replayed bit-for-bit,
    * the kmeans/BPE discipline applied to gradient descent.
    */
  def qualityTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    qtTrained(s, dir)._2
      .map { case (it, w, sse, n) => (it, w(0), w(1), w(2), w(3), w(4), sse, n) }
      .toDF("iter", "w0", "w1", "w2", "w3", "w4", "sse_e12", "n")
  }

  /** GRADIENT-ACCUMULATION equivalence — the data-parallel training
    * algebra certified: the e12-int64 gradient cells are plain sums,
    * so per-shard partial gradients accumulate to the full-batch
    * gradient EXACTLY (integer addition is associative — no
    * float-reduction-order drift between 1 worker and N workers),
    * which is precisely why `quality_train`'s trajectory is
    * shuffle-order-independent and why a gradient step distributes
    * over any row partition. Emits the per-shard cells (doc_id % 4 —
    * four simulated workers), the full-batch row (shard = -1), and
    * `accum_equal` = 1 iff every summed shard cell equals the
    * full-batch cell, all evaluated at the REAL post-step-1 weights
    * (a non-trivial gradient point). The oracle recomputes the step-1
    * weights, both groupings, and the equality from raw text.
    */
  def gradAccumEquiv(s: SparkSession, dir: String): DataFrame = {
    val feat = graft.ops.Classifier.features(
      t(s, dir, "documents"), "doc_id", "text", "lang")
    val (w1, _, _) =
      graft.ops.Classifier.step(feat, Array.fill(5)(0.0), QtLr)
    val byShard = graft.ops.Classifier.gradientCells(
      feat.withColumn("shard", pmod(col("id"), lit(4))), w1,
      Seq(col("shard")))
    val total = graft.ops.Classifier.gradientCells(
      feat.withColumn("shard", lit(-1L)), w1, Seq(col("shard")))
    val cellCols = Seq("g0_e12", "g1_e12", "g2_e12", "g3_e12",
      "g4_e12", "sse_e12", "n")
    val shardSums = byShard.agg(
      sum(col(cellCols.head)).as(cellCols.head),
      cellCols.tail.map(c => sum(col(c)).as(c)): _*)
    val flag = shardSums.crossJoin(broadcast(
        total.select(cellCols.map(c => col(c).as(s"t_$c")): _*)))
      .select(when(cellCols.map(c => col(c) === col(s"t_$c"))
          .reduce(_ && _), 1).otherwise(0).as("accum_equal"))
    byShard.unionByName(total)
      .crossJoin(broadcast(flag))
      .orderBy(col("shard"))
  }

  /** ONLINE model maintenance — the incremental-family algebra
    * applied to SGD: train on the 90% base corpus (doc_id % 10 ≠ 9,
    * the established delta convention), then absorb the newest-10%
    * increment with ONE gradient step over the DELTA ONLY — the base
    * is never rescanned, so a daily increment costs ∝ |Δ|. Output is
    * the full trajectory (3 base steps + the delta step), each row
    * phase-tagged; the oracle replays both phases, so the online
    * update's weights hash-compare bit-exactly too.
    */
  /** Base-corpus (90%) feature frame + its trained weights, shared by
    * the incremental trainer and the holdout evaluation.
    */
  private def qtFeaturesAll(s: SparkSession, dir: String): DataFrame =
    graft.ops.Classifier.features(
      t(s, dir, "documents"), "doc_id", "text", "lang")
  private def qtBaseTrained(s: SparkSession, dir: String) =
    graft.Memo.value(dir, "qt-base")(
      graft.ops.Classifier.train(
        qtFeaturesAll(s, dir).filter(pmod(col("id"), lit(10)) =!= 9),
        iters = QtIters, lr = QtLr))

  def qualityTrainIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val delta = qtFeaturesAll(s, dir)
      .filter(pmod(col("id"), lit(10)) === 9)
    val (wb, hist) = qtBaseTrained(s, dir)
    val (wd, sse, n) = graft.ops.Classifier.step(delta, wb, QtLr)
    (hist.map { case (it, w, s0, n0) =>
        ("base", it, w(0), w(1), w(2), w(3), w(4), s0, n0)
      } :+ ("delta", QtIters + 1, wd(0), wd(1), wd(2), wd(3), wd(4), sse, n))
      .toDF("phase", "iter", "w0", "w1", "w2", "w3", "w4", "sse_e12", "n")
  }

  /** Apply the trained classifier: per-document quality score
    * σ(w·x) (6-dp rounded), hard prediction, and the label — the
    * quality-filter scoring pass a pipeline would gate ingestion on.
    * Scores derive from bit-reproducible weights through per-row
    * exact arithmetic, so the oracle recomputes every score.
    */
  def qualityClassify(s: SparkSession, dir: String): DataFrame =
    graft.ops.Classifier.score(
        graft.ops.Classifier.features(
          t(s, dir, "documents"), "doc_id", "text", "lang"),
        qtTrained(s, dir)._1)
      .orderBy(col("id"))

  /** Staged copy of `documents` as two id-split parquet files with
    * ordered mtimes, so a file-source stream replays it as two REAL
    * micro-batches.
    */
  private def docStage(s: SparkSession, dir: String): String =
    graft.Memo.value(dir, "doc-stage") {
      val docs = t(s, dir, "documents")
      graft.streaming.IncrementalStream.stageSlices(
        (0 until 2).map(i => docs.filter(pmod(col("doc_id"), lit(2)) === i)))
        .toString
    }

  /** STREAMING deployment of the trained quality filter — the seventh
    * driver-visible stream shape: documents replayed through a file
    * source as ≥2 real micro-batches, each batch scored with the
    * BATCH-trained weights (stream-static model application — the
    * production quality-gate-at-ingest). Features and the rational
    * sigmoid are per-row projections, so the query is STATELESS: no
    * watermark, no state store; the model rides the plan as literals,
    * exactly how a broadcast model deploys. The streamed scores must
    * equal the batch scorer bit-for-bit — the oracle IS
    * `quality_classify`'s replay, so batch/stream equivalence of the
    * whole train-then-serve path is hash-checked.
    */
  def streamClassify(s: SparkSession, dir: String): DataFrame = {
    val w = qtTrained(s, dir)._1
    val stage = docStage(s, dir)
    val schema = s.read.parquet(stage).schema
    val stream = graft.streaming.IncrementalStream
      .readAppendStream(s, stage, schema, maxFilesPerTrigger = Some(1))
    val scored = graft.ops.Classifier.score(
      graft.ops.Classifier.features(stream, "doc_id", "text", "lang"), w)
    graft.streaming.IncrementalStream.runToMemory("stream_classify", scored,
      "append", minBatches = 2)(_.orderBy(col("id")))
  }

  /** The SEVENTEENTH driver-visible stream shape — PERCEPTUAL image
    * dedup maintained FROM the stream: media payloads synthesized per
    * arriving document (the `multimodal_dhash` rule, scan-stage per
    * micro-batch), hashed with the dHash kernel, and canonicalized
    * through the keyed keep-min-id state
    * ([[graft.streaming.IncrementalStream.canonicalDedupStream]] —
    * the exact-dedup stream shape keyed on the PERCEPTUAL signature
    * instead of a content digest, which is how an image-ingest
    * pipeline drops re-encoded near-dups on arrival without a batch
    * re-scan). Update-mode emissions accumulate in the memory sink;
    * the final state per signature recovers exactly because both
    * cells are monotone (keep_id only decreases, n_copies only
    * grows), so min/max over the update log IS the last state — no
    * batch-id bookkeeping needed. The oracle recomputes every
    * signature and the batch GROUP BY it must converge to;
    * arrival-order independence is exactly the keep-MIN contract
    * (first-arrival-wins would depend on the file split).
    */
  def streamDhash(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.dsl._
    val stage = docStage(s, dir)
    val schema = s.read.parquet(stage).schema
    val stream = graft.streaming.IncrementalStream
      .readAppendStream(s, stage, schema, maxFilesPerTrigger = Some(1))
    val media = stream.select(col("doc_id").cast("long").as("media_id"),
      lit("image").as("kind"),
      concat(
        make_media_header(pmod(col("doc_id"), lit(4)) + 1,
          pmod(col("doc_id"), lit(512)) + 16,
          pmod(col("doc_id") * 3, lit(512)) + 16),
        col("text").cast("binary")).as("payload"))
    val sigs = Multimodal.perceptualDhash(media)
      .select(concat_ws(":", col("hi"), col("lo")).as("sig"),
        col("media_id"))
    val deduped = graft.streaming.IncrementalStream
      .canonicalDedupStream(sigs, "media_id", "sig")
    graft.streaming.IncrementalStream.runToMemory("stream_dhash", deduped,
        "update", minBatches = 2)(
      _.groupBy(col("key_digest"))
        .agg(min(col("keep_id")).as("keep_id"),
          max(col("n_copies")).as("n_copies"))
        .orderBy(col("key_digest")))
  }

  /** The (score_e6, y) frame the evaluation metrics consume: raw
    * classifier probabilities quantized to e6 integers (the
    * quantization is what bounds the AUC rank domain at 10⁶+1 values
    * at ANY corpus size — see [[graft.ops.Eval]]).
    */
  private def qtScoresE6(s: SparkSession, dir: String): DataFrame =
    graft.ops.Classifier.probabilities(
        graft.ops.Classifier.features(
          t(s, dir, "documents"), "doc_id", "text", "lang"),
        qtTrained(s, dir)._1)
      .select(expr("CAST(floor(p * 1e6 + 0.5) AS BIGINT)").as("score_e6"),
        col("y"))

  /** Model evaluation I — exact ROC AUC of the trained quality
    * classifier against the `lang = 'en'` labels (Mann–Whitney
    * rank-sum with midrank tie credit, [[graft.ops.Eval.aucExact]]):
    * no global sort, no single-reducer window, rank products in
    * DECIMAL(38,0), the reported AUC an exact ×10⁶ integer. The
    * oracle replays the trained weights (the qtCtes unroll), the e6
    * quantization, and the whole rank decomposition in HUGEINT SQL.
    */
  def qualityAuc(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.aucExact(qtScoresE6(s, dir))

  /** Model evaluation VI — the HOLDOUT discipline: weights trained on
    * the 90% base corpus (doc_id % 10 ≠ 9, the delta convention) are
    * evaluated by exact AUC on the UNSEEN 10% only. `quality_auc`
    * measures fit on the training corpus; this is the
    * generalization-gap twin a pipeline actually gates deployment on
    * (train/test separation as a first-class query, not a harness
    * convention). Shares the base training with
    * `quality_train_incremental` via the dir-keyed memo; the oracle
    * replays the 3-step base GD chain, scores the held-out rows with
    * the final weights, and reruns the whole Mann–Whitney
    * decomposition over just those scores.
    */
  def qualityAucHoldout(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.aucExact(
      graft.ops.Classifier.probabilities(
          qtFeaturesAll(s, dir).filter(pmod(col("id"), lit(10)) === 9),
          qtBaseTrained(s, dir)._1)
        .select(expr("CAST(floor(p * 1e6 + 0.5) AS BIGINT)")
          .as("score_e6"), col("y")))

  /** Model evaluation II — 0.5-threshold confusion matrix +
    * accuracy/precision/recall/F1 as exact ×10⁶ integers from ONE
    * 1-row aggregate ([[graft.ops.Eval.confusion]]); the oracle
    * recomputes every cell from the replayed scores.
    *
    * On this corpus the row it hash-pins is the classifier's
    * DEGENERATE truth: 3 GD steps on weak surface features against a
    * 38.6% base rate converge below 0.5 for every document (tp = fp
    * = 0, precision NULL — never a fabricated 0) — the metric
    * catching an all-negative quality filter before it silently
    * drops a corpus, the modularity-pins-LPA's-failure discipline.
    */
  def qualityConfusion(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.confusion(
      graft.ops.Classifier.score(
        graft.ops.Classifier.features(
          t(s, dir, "documents"), "doc_id", "text", "lang"),
        qtTrained(s, dir)._1))

  /** Model evaluation III — decile reliability/calibration table
    * ([[graft.ops.Eval.calibration]]): per-bin support, mean
    * predicted probability, empirical positive rate, and the signed
    * gap, all exact ×10⁶ integers over a ≤10-row shuffle domain.
    */
  def qualityCalibration(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.calibration(qtScoresE6(s, dir))

  /** The SECOND in-engine trainer — a depth-1 decision stump over the
    * same surface-feature frame the GD classifier trains on
    * ([[graft.ops.Stump.train]]): all 36 candidate splits (4 features
    * × the 9-decile e6 grid) evaluated from ONE scan + ONE 1-row
    * 74-cell integer aggregate, each split's weighted Gini kept as
    * the exact rational (gini_num, gini_den) with the comparable
    * ⌊num·10¹²/den⌋ score, winner = lexicographic min of
    * (score_e12, feature, thr_e6). The oracle replays the feature
    * quantization, every conditional sum, the HUGEINT score division,
    * and the argmin window — the whole model SEARCH hash-compared,
    * not just the winner.
    *
    * What it hash-pins on this corpus: the stump finds what the
    * under-trained GD classifier cannot express — a single threshold
    * with signal — while the Gini table shows how weak that signal is
    * (every split's impurity sits near the 2·p·(1−p) parent base
    * rate), the honest readout for surface features on word salad.
    */
  def qualityStump(s: SparkSession, dir: String): DataFrame =
    graft.ops.Stump.train(
      graft.ops.Classifier.features(
        t(s, dir, "documents"), "doc_id", "text", "lang"))

  /** Model evaluation IV — the metric family on a SECOND, structurally
    * different scorer: the heuristic lang-ID as an 'en' detector.
    * score_e6 = the en-marker share of ALL marker hits (exact integer
    * ratio; marker-less docs sit at the uninformative 500000
    * midpoint), pred = the langId argmax choosing 'en', y = the
    * labeled lang. AUC + confusion come from the same
    * [[graft.ops.Eval]] operators as the classifier metrics and
    * unpivot into ONE (metric, value) long table — the
    * pipeline-report shape (filter_funnel's stack discipline).
    *
    * What it measures here is a SECOND failure mode, hash-pinned the
    * way `modularity` pins LPA's bipartite collapse: the synthetic
    * corpus text is English-ish word salad regardless of the labeled
    * `lang`, so the marker heuristic predicts 'en' for ~77% of
    * everything — recall 0.92 but precision 0.38, AUC ≈ 0.488.
    * Where quality_confusion catches a DEGENERATE predictor (the
    * under-trained classifier never crosses 0.5: tp = 0), this
    * catches an OVER-FIRING one; correct behavior on separable data
    * is property-pinned in EvalSpec.
    */
  /** The lang-ID 'en'-detector score frame over any documents-shaped
    * input (batch table or a streaming micro-batch): tokenize ONCE
    * into a column, then take the four marker counts off it —
    * inlining filter(split(...)) into every count would re-split the
    * text per marker list (no CSE across lambda trees; measured ~5 s
    * → sub-second at sf0.1). pred derives from the counts directly:
    * the langId argmax picks 'en' iff s_en > 0 and s_en >= each later
    * language (first-declared wins ties) — the exact condition the
    * oracle spells. Output: (score_e6, y, pred).
    */
  private def langidScores(df: DataFrame): DataFrame =
    df.select(col("lang"),
        filter(split(lower(col("text")), "\\s+"),
          t => length(t) > 0).as("toks"))
      .select(col("lang") :: TextOps.LangMarkers.map { case (l, ms) =>
        size(filter(col("toks"), t => t.isInCollection(ms)))
          .cast("long").as(s"s_$l")
      }.toList: _*)
      .select(
        expr("""CASE WHEN s_en + s_de + s_es + s_fr > 0
                     THEN s_en * 1000000 DIV (s_en + s_de + s_es + s_fr)
                     ELSE 500000 END""").as("score_e6"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        expr("""CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es
                          AND s_en >= s_fr THEN 1 ELSE 0 END""")
          .as("pred"))

  def langidEval(s: SparkSession, dir: String): DataFrame = {
    // both metric legs read the same tiny (score, y, pred) frame —
    // pin it so the corpus is scanned once, not once per leg
    val pinned = graft.ops.Dedup.materialize(
      langidScores(t(s, dir, "documents")))
    val auc = graft.ops.Eval.aucExact(pinned)
    val cm = graft.ops.Eval.confusion(pinned)
    auc.select(expr(
        """stack(3, 'auc_e6', auc_e6, 'n_neg', n_neg, 'n_pos', n_pos)
           AS (metric, value)"""))
      .unionAll(cm.select(expr(
        """stack(11, 'acc_e6', acc_e6, 'f1_e6', f1_e6, 'fn', fn,
                 'fp', fp, 'kappa_den', kappa_den, 'kappa_e6', kappa_e6,
                 'kappa_num', kappa_num, 'prec_e6', prec_e6,
                 'rec_e6', rec_e6, 'tn', tn, 'tp', tp)
           AS (metric, value)""")))
      .orderBy(col("metric"))
  }

  /** Deterministic reservoir-equivalent k-per-group sampling
    * (Efraimidis–Spirakis A-Res with hash priorities): each language
    * keeps the k = 4 documents with the LARGEST
    * mix64(doc_id ⊕ mix64(seed)) key — a uniform k-subset per group
    * under the hash's permutation, RNG-free and reproducible on any
    * executor. The scale shape is the [[graft.functions.TopKMax]]
    * bounded aggregator (≤ k rows per group per partition, map-side
    * combined — the shuffle carries k·groups·partitions structs),
    * NOT the ranking window that ships every row to its group's
    * reducer: per-group capping is the data-mixing operator a corpus
    * blend runs over billions of rows per group. The oracle replays
    * the full SplitMix64 chain in UBIGINT SQL (the epoch_shuffle
    * discipline) and ranks with DuckDB's own window.
    */
  def reservoirSample(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKMax.topk_max
    import graft.functions.dsl.shuffle_key
    val d = t(s, dir, "documents").select(col("lang"), col("doc_id"),
      shuffle_key(col("doc_id"), 777L).as("skey"))
    d.groupBy(col("lang"))
      .agg(topk_max(col("skey"), col("doc_id"), 4).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("doc_id"), col("col.v").as("skey"))
      .orderBy(col("lang"), col("rank"))
  }

  /** Token-budget corpus fill — the mixing step that assembles a
    * training set to a TOKEN budget, not a document count (epochs are
    * priced in tokens; `mixture_sample`/`mixture_temperature` set
    * per-group quotas in documents, this operator fills 40% of each
    * source's token mass): per source, documents are taken in the
    * deterministic shuffle order (mix64 hash priority — the
    * reservoir_sample/epoch_shuffle key, so the "random" prefix is
    * reproducible on any executor and any retry) and the running
    * token sum admits a document while it stays within budget.
    * Plan shape: token counts are a scan-stage projection (no token
    * explode — `size(tokens)` only), the cumulative sum is one
    * per-source window sort over (skey, doc_id), and the per-source
    * budgets are a broadcast |sources|-row dimension; reporting joins
    * LEFT from the budget table so a source whose first draw already
    * overflows still reports its zero fill. All-integer fill ratio
    * (·10⁶ div) — no float drift in the compare.
    */
  def tokenBudgetMix(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.dsl.shuffle_key
    import org.apache.spark.sql.expressions.Window
    // pinned: the budget aggregate and the window branch both read
    // the (source, doc_id, ntok, skey) projection — without the pin
    // the tokenize kernel runs twice over the corpus
    val d = graft.ops.Dedup.materialize(t(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        size(graft.ops.Dedup.tokens(col("text"))).cast("long").as("ntok"),
        shuffle_key(col("doc_id"), 911L).as("skey")))
    val tot = d.groupBy(col("source"))
      .agg(sum(col("ntok")).as("tot_tokens"))
      .withColumn("budget_tokens", expr("tot_tokens * 2 DIV 5"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("skey"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sel = d.withColumn("cum", sum(col("ntok")).over(w))
      .join(broadcast(tot), Seq("source"))
      .filter(col("cum") <= col("budget_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("sel_tokens"))
    tot.join(sel, Seq("source"), "left")
      .select(col("source"), col("tot_tokens"), col("budget_tokens"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("sel_tokens"), lit(0L)).as("sel_tokens"))
      .withColumn("fill_e6",
        when(col("budget_tokens") > 0,
          expr("sel_tokens * 1000000 DIV budget_tokens"))
          .otherwise(lit(0L)))
      .orderBy(col("source"))
  }

  /** Model evaluation V — the whole precision/recall CURVE from one
    * pass ([[graft.ops.Eval.prCurve]]): decile thresholds over the
    * lang-ID 'en'-detector score. Every threshold's confusion comes
    * from conditional sums over the per-distinct-score value domain
    * (≤10⁶+1 rows at any corpus size), so the 9-point curve costs one
    * corpus scan + one bounded aggregate — the threshold-tuning query
    * a pipeline runs before picking its quality gate, priced
    * independent of corpus size past the first map stage.
    */
  def langidPrCurve(s: SparkSession, dir: String): DataFrame =
    graft.ops.Eval.prCurve(
      langidScores(t(s, dir, "documents")).select(col("score_e6"),
        col("y")),
      (1L to 9L).map(_ * 100000L))

  /** The EIGHTH driver-visible stream shape — model-quality
    * MONITORING at ingest: documents replayed as ≥2 real
    * micro-batches (the docStage file source), each batch scored by
    * the stateless lang-ID detector and reduced to its confusion
    * cells inside `foreachBatch` (one 1-row aggregate per batch; the
    * driver accumulates 4 longs per batch, never rows). This is the
    * per-batch quality dashboard a production gate alarms on —
    * batch-level accuracy drift is visible where a whole-corpus
    * metric would average it away. Batches are the doc_id-parity
    * splits in mtime order, so the oracle recomputes every batch's
    * cells exactly (GROUP BY doc_id % 2).
    */
  def streamEval(s: SparkSession, dir: String): DataFrame = {
    val stage = docStage(s, dir)
    val schema = s.read.parquet(stage).schema
    val stream = graft.streaming.IncrementalStream
      .readAppendStream(s, stage, schema, maxFilesPerTrigger = Some(1))
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long)]
    graft.streaming.IncrementalStream.runForeachBatch("stream_eval", stream,
        minBatches = 2) { (batch, batchId) =>
      val r = graft.ops.Eval.confusion(langidScores(batch)).head()
      // an EMPTY micro-batch (a 0-row staged file) aggregates to one
      // all-NULL row — skip it rather than unbox NULL→0 and divide by
      // zero; the oracle's GROUP BY emits no row for an empty parity
      // class either, so skipping is exactly result-aligned
      if (!r.isNullAt(r.fieldIndex("tp"))) buf.synchronized {
        buf += ((batchId, r.getAs[Long]("tp"), r.getAs[Long]("fp"),
          r.getAs[Long]("fn"), r.getAs[Long]("tn")))
      }
    }
    import s.implicits._
    buf.toSeq.sortBy(_._1).map { case (b, tp, fp, fn, tn) =>
      // exact integer accuracy, same arithmetic as Eval.confusion —
      // computed on the driver from the 4 collected cells
      (b, tp + fp + fn + tn, tp, fp, fn, tn,
        (tp + tn) * 1000000L / (tp + fp + fn + tn))
    }.toDF("batch", "n", "tp", "fp", "fn", "tn", "acc_e6")
      .orderBy(col("batch"))
  }

  /** Deterministic CURRICULUM ordering — the training-order contract
    * a curriculum-learning pipeline feeds the loader (Bengio et al.,
    * ICML 2009): documents advance easiest-first (token-count decile
    * as the difficulty proxy) while each decile INTERLEAVES sources
    * round-robin (position-within-source), so no contiguous training
    * window is single-source — the mixing property `mixture_sample`
    * guarantees in expectation, enforced here as a deterministic
    * order. Emits the SORT KEY (decile, pos, source, doc_id), not a
    * global row number — the `zorder_key` key-not-rank discipline: a
    * global row_number window is a single-partition sort, while
    * writing range-partitioned on this key realizes the same order at
    * any scale.
    *
    * The decile is the distributed exact-ntile: per-value counts →
    * running offsets over |distinct ntok| cells → per-value
    * row_number, the `length_deciles` idiom, so no corpus-sized
    * global window anywhere. Fully oracle-replayable (ntile + window
    * functions in DuckDB).
    */
  def curriculumOrder(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = graft.ops.Dedup.materialize(
      t(s, dir, "documents").select(col("doc_id"), col("source"),
        size(graft.ops.Dedup.tokens(col("text"))).cast("long").as("ntok")))
    val vc = d.groupBy(col("ntok")).agg(count(lit(1)).as("c"))
    // unpartitioned window audit (r15): cumulates the VALUE-COUNT
    // table (distinct token-length values), never per-document rows
    val off = vc.withColumn("off",
        sum(col("c")).over(Window.orderBy(col("ntok"))) - col("c"))
      .select(col("ntok"), col("off"))
    val ranked = d.withColumn("rw",
        row_number().over(
          Window.partitionBy(col("ntok")).orderBy(col("doc_id")))
          .cast("long") - 1)
      .join(broadcast(off), "ntok")
      .withColumn("r0", col("off") + col("rw"))
    val total = d.agg(count(lit(1)).as("n_total"))
    ranked.crossJoin(broadcast(total))
      .withColumn("decile", expr(
        """CAST(CASE
             WHEN r0 < (n_total % 10) * (n_total DIV 10 + 1)
             THEN r0 DIV (n_total DIV 10 + 1)
             ELSE (n_total % 10)
                  + (r0 - (n_total % 10) * (n_total DIV 10 + 1))
                    DIV (n_total DIV 10)
           END + 1 AS BIGINT)"""))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("decile"), col("source"))
          .orderBy(col("doc_id"))))
      .select(col("decile"), col("pos"), col("source"), col("doc_id"),
        col("ntok"))
      .orderBy(col("decile"), col("pos"), col("source"), col("doc_id"))
  }

  /** SOURCE-FAIR quality calibration — per-source quantile
    * normalization of the quality score before a global cut: a raw
    * global threshold is dominated by whichever source's score
    * distribution sits higher (a clean-but-formulaic source would
    * crowd out a noisier-but-valuable one), so each document gets its
    * PERCENTILE RANK WITHIN ITS SOURCE (pr_e6, exact integers) and
    * the gate cuts on that — "top 10% of every source" instead of
    * "top 10% of wherever the scale happens to be". Singleton
    * sources pin to 1.0 (no distribution to rank against).
    *
    * Scale shape: the rank window is PARTITIONED by source —
    * distributed by construction (per-source shuffles, never a global
    * sort), scan-stage quality kernel, one projection out. Fully
    * oracle-replayable (the quality chain + keyed windows + integer
    * percentile arithmetic).
    */
  def qualityQuantileNorm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSrc = Window.partitionBy(col("source"))
    val base = t(s, dir, "documents").select(col("doc_id"), col("source"),
      TextOps.qualityScoreE4(col("text")).as("q_e4"))
    base
      .withColumn("rk", row_number()
        .over(wSrc.orderBy(col("q_e4"), col("doc_id"))).cast("long"))
      .withColumn("n_src", count(lit(1)).over(wSrc))
      .withColumn("pr_e6", when(col("n_src") > 1,
        expr("((rk - 1) * 1000000) DIV (n_src - 1)"))
        .otherwise(lit(1000000L)))
      .withColumn("kept", (col("pr_e6") >= 900000L).cast("int"))
      .select(col("doc_id"), col("source"), col("q_e4"), col("pr_e6"),
        col("kept"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curriculum_order" -> (curriculumOrder _),
    "quality_quantile_norm" -> (qualityQuantileNorm _),
    "reservoir_sample" -> (reservoirSample _),
    "token_budget_mix" -> (tokenBudgetMix _),
    "langid_pr_curve" -> (langidPrCurve _),
    "stream_eval" -> (streamEval _),
    "langid_eval" -> (langidEval _),
    "quality_auc" -> (qualityAuc _),
    "quality_confusion" -> (qualityConfusion _),
    "quality_calibration" -> (qualityCalibration _),
    "quality_stump" -> (qualityStump _),
    "quality_auc_holdout" -> (qualityAucHoldout _),
    "quality_train" -> (qualityTrain _),
    "grad_accum_equiv" -> (gradAccumEquiv _),
    "quality_train_incremental" -> (qualityTrainIncremental _),
    "quality_classify" -> (qualityClassify _),
    "stream_classify" -> (streamClassify _),
    "bpe_merges" -> (bpeMerges _),
    "bpe_drift" -> (bpeDrift _),
    "bpe_encode" -> (bpeEncode _),
    "bpe_roundtrip" -> (bpeRoundtrip _),
    "text_stats" -> (textStats _),
    "quality_score" -> (qualityScore _),
    "quality_token_curve" -> (qualityTokenCurve _),
    "lang_id" -> (langId _),
    "fingerprint" -> (fingerprint _),
    "fingerprint_gate" -> (fingerprintGate _),
    "multimodal_meta" -> (multimodalMeta _),
    "multimodal_embed" -> (multimodalEmbed _),
    "multimodal_embed_gate" -> (multimodalEmbedGate _),
    "multimodal_header" -> (multimodalHeader _),
    "multimodal_audio" -> (multimodalAudio _),
    "multimodal_video" -> (multimodalVideo _),
    "unicode_nfc" -> (unicodeNfc _),
    "multimodal_frames" -> (multimodalFrames _),
    "multimodal_dhash" -> (multimodalDhash _),
    "stream_dhash" -> (streamDhash _),
    "sql_surface" -> (sqlSurface _),
    "repetition_stats" -> (repetitionStats _),
    "pii_scrub" -> (piiScrub _),
    "quality_sample" -> (qualitySample _),
    "chunk_tokens" -> (chunkTokensQ _),
    "corpus_vocab" -> (corpusVocab _),
    "tfidf_top_terms" -> (tfidfTopTerms _),
    "pmi_bigrams" -> (pmiBigrams _),
    "inverted_index" -> (invertedIndex _),
    "inverted_delta" -> (invertedDelta _),
    "stratified_sample" -> (stratifiedSample _),
    "mixture_sample" -> (mixtureSample _),
    "mixture_temperature" -> (mixtureTemperature _),
    "median_exact" -> (medianExact _),
    "bpe_fertility" -> (bpeFertility _),
    "normalize_text" -> (normalizeText _),
    "domain_stats" -> (domainStats _),
    "lm_surprisal" -> (lmSurprisal _),
    "kn_bigram" -> (knBigram _),
    "kn_apply" -> (knApply _),
    "html_extract" -> (htmlExtract _),
    "hybrid_rank" -> (hybridRank _),
    "dsir_select" -> (dsirSelect _),
    "pack_sequences" -> (packSequences _),
    "pps_sample" -> (ppsSample _),
    "dataset_split" -> (datasetSplit _),
    "filter_funnel" -> (filterFunnel _),
    "training_pipeline" -> (trainingPipeline _),
    "keyword_search" -> (keywordSearch _),
    "blocklist_match" -> (blocklistMatch _),
    "blocklist_declared" -> (blocklistDeclared _),
    "url_canonicalize" -> (urlCanonicalize _),
    "posting_delta" -> (postingDelta _),
    "source_overlap" -> (sourceOverlap _),
    "corpus_drift" -> (corpusDrift _),
    "bm25_rank" -> (bm25Rank _),
    "line_dedup" -> (lineDedup _))

  /** The dHash signature replay shared by the `multimodal_dhash` and
    * `stream_dhash` oracles: body = text bytes (ASCII corpus — the
    * multimodal_meta parity), position i → segment ⌊(i−1)·72/len⌋
    * summing char codes, 64 gradient-sign bits packed into two
    * non-negative 32-bit halves. Ends with `sig(doc_id, hi, lo)`.
    */
  private val dhashSigCtes: String =
    """b AS (SELECT doc_id, text, length(text) AS len
             FROM documents),
       ch AS (SELECT doc_id,
                unnest([((i - 1) * 72) // len
                        for i in range(1, len + 1)]) AS cell,
                unnest([ord(substring(text, CAST(i AS INTEGER), 1))
                        for i in range(1, len + 1)]) AS v
              FROM b WHERE len > 0),
       cs AS (SELECT doc_id, cell, sum(v) AS s FROM ch GROUP BY 1, 2),
       grid AS (SELECT b.doc_id, g.cell, coalesce(cs.s, 0) AS s
                FROM b CROSS JOIN range(0, 72) g(cell)
                LEFT JOIN cs ON cs.doc_id = b.doc_id
                            AND cs.cell = g.cell),
       bits AS (SELECT l.doc_id, t.bit,
                  CASE WHEN l.s > r.s THEN CAST(1 AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END AS v
                FROM range(0, 64) t(bit)
                JOIN grid l ON l.cell = (t.bit // 8) * 9 + (t.bit % 8)
                JOIN grid r ON r.doc_id = l.doc_id
                           AND r.cell = (t.bit // 8) * 9 + (t.bit % 8) + 1),
       sig AS (SELECT doc_id,
                 sum(CASE WHEN bit < 32
                          THEN v * (CAST(1 AS BIGINT) << bit)
                          ELSE 0 END) AS hi,
                 sum(CASE WHEN bit >= 32
                          THEN v * (CAST(1 AS BIGINT) << (bit - 32))
                          ELSE 0 END) AS lo
               FROM bits GROUP BY doc_id)"""

  private val tokSql =
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)"
  private def markerCount(markers: Seq[String]): String =
    s"len(list_filter($tokSql, x -> x IN (${markers.map(m => s"'$m'").mkString(", ")})))"

  /** Shared CTE chain replaying [[graft.ops.Classifier]]'s training:
    * the feature table (per-row exact arithmetic over the established
    * tokens regex twin), then [[QtIters]] unrolled GD steps — each a
    * 1-row gradient aggregate in e12 int64 plus the weight-update
    * arithmetic in the trainer's exact operation order.
    */
  /** The feature projection as a bare SELECT (per-row exact
    * arithmetic over the established tokens-regex twin), filterable
    * for the base/delta split of the incremental trainer.
    */
  private def qtFeatureSelect(whereSql: String): String =
    s"""SELECT doc_id AS id,
              CAST(least(length(text), 2000) AS DOUBLE) / 2000.0 AS x1,
              CAST(least(nt, 100) AS DOUBLE) / 100.0 AS x2,
              CASE WHEN nt > 0 THEN CAST(st AS DOUBLE) / nt
                   ELSE 0.0 END AS x3,
              CASE WHEN nt > 0 THEN (CAST(sl AS DOUBLE) / nt) / 10.0
                   ELSE 0.0 END AS x4,
              CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
       FROM (SELECT doc_id, text, lang, len(toks) AS nt,
                    len(list_filter(toks,
                          t -> t = 'the' OR t = 'a')) AS st,
                    coalesce(list_sum(list_transform(toks,
                          t -> length(t))), 0) AS sl
             FROM (SELECT doc_id, text, lang,
                          list_filter(
                            regexp_split_to_array(lower(text),
                                                  '[^a-z0-9]+'),
                            x -> len(x) > 0) AS toks
                   FROM documents WHERE $whereSql) tt) q"""

  /** One GD step as CTEs: gradient aggregate `qg_$i` over `$featCte`
    * at weights `qw_${i-1}`, then the updated `qw_$i` — the trainer's
    * exact arithmetic (e12 int64 sums, the same update order).
    */
  private def qtStepCtes(i: Int, featCte: String): String =
    s"""qg_$i AS (
         SELECT sum(CAST(floor(err * 1e12 + 0.5) AS BIGINT)) AS g0,
                sum(CAST(floor(err * x1 * 1e12 + 0.5) AS BIGINT)) AS g1,
                sum(CAST(floor(err * x2 * 1e12 + 0.5) AS BIGINT)) AS g2,
                sum(CAST(floor(err * x3 * 1e12 + 0.5) AS BIGINT)) AS g3,
                sum(CAST(floor(err * x4 * 1e12 + 0.5) AS BIGINT)) AS g4,
                sum(CAST(floor(err * err * 1e12 + 0.5) AS BIGINT))
                  AS sse,
                count(*) AS n
         FROM (SELECT x1, x2, x3, x4,
                      (0.5 + 0.5 * z / (1.0 + abs(z))) - y AS err
               FROM (SELECT f.*, w.w0 + w.w1 * x1 + w.w2 * x2
                                + w.w3 * x3 + w.w4 * x4 AS z
                     FROM $featCte f CROSS JOIN qw_${i - 1} w) fz) e),
       qw_$i AS (
         SELECT w.w0 - $QtLr * ((CAST(g.g0 AS DOUBLE) / 1e12) / g.n) AS w0,
                w.w1 - $QtLr * ((CAST(g.g1 AS DOUBLE) / 1e12) / g.n) AS w1,
                w.w2 - $QtLr * ((CAST(g.g2 AS DOUBLE) / 1e12) / g.n) AS w2,
                w.w3 - $QtLr * ((CAST(g.g3 AS DOUBLE) / 1e12) / g.n) AS w3,
                w.w4 - $QtLr * ((CAST(g.g4 AS DOUBLE) / 1e12) / g.n) AS w4
         FROM qw_${i - 1} w CROSS JOIN qg_$i g)"""

  private def qtCtes: String = {
    val feat =
      s"""qf AS (${qtFeatureSelect("TRUE")}),
         qw_0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2,
                         0.0 AS w3, 0.0 AS w4)"""
    feat + ",\n" + (1 to QtIters).map(qtStepCtes(_, "qf")).mkString(",\n")
  }

  /** [[gradAccumEquiv]] replayed: step-1 weights from the unrolled GD
    * chain, the same e12 gradient cells grouped by shard and in one
    * full-batch row, and the exact-equality flag between summed shard
    * cells and the full batch.
    */
  private def gradAccumEquivOracleSql: String = {
    def cellsSelect(shardExpr: String, groupBy: String): String =
      s"""SELECT $shardExpr AS shard,
              CAST(sum(CAST(floor(err * 1e12 + 0.5) AS BIGINT))
                   AS BIGINT) AS g0_e12,
              CAST(sum(CAST(floor(err * x1 * 1e12 + 0.5) AS BIGINT))
                   AS BIGINT) AS g1_e12,
              CAST(sum(CAST(floor(err * x2 * 1e12 + 0.5) AS BIGINT))
                   AS BIGINT) AS g2_e12,
              CAST(sum(CAST(floor(err * x3 * 1e12 + 0.5) AS BIGINT))
                   AS BIGINT) AS g3_e12,
              CAST(sum(CAST(floor(err * x4 * 1e12 + 0.5) AS BIGINT))
                   AS BIGINT) AS g4_e12,
              CAST(sum(CAST(floor(err * err * 1e12 + 0.5) AS BIGINT))
                   AS BIGINT) AS sse_e12,
              count(*) AS n
       FROM (SELECT id, x1, x2, x3, x4,
                    (0.5 + 0.5 * z / (1.0 + abs(z))) - y AS err
             FROM (SELECT f.*, w.w0 + w.w1 * x1 + w.w2 * x2
                              + w.w3 * x3 + w.w4 * x4 AS z
                   FROM qf f CROSS JOIN qw_1 w) fz) e $groupBy"""
    s"""WITH qf AS (${qtFeatureSelect("TRUE")}),
       qw_0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2,
                       0.0 AS w3, 0.0 AS w4),
       ${qtStepCtes(1, "qf")},
       cells AS (${cellsSelect("id % 4", "GROUP BY 1")}),
       tot AS (${cellsSelect("CAST(-1 AS BIGINT)", "")}),
       allr AS (SELECT * FROM cells UNION ALL SELECT * FROM tot),
       sums AS (SELECT sum(g0_e12) AS g0, sum(g1_e12) AS g1,
                       sum(g2_e12) AS g2, sum(g3_e12) AS g3,
                       sum(g4_e12) AS g4, sum(sse_e12) AS sse,
                       sum(n) AS n FROM cells),
       flag AS (SELECT CASE WHEN s.g0 = t.g0_e12 AND s.g1 = t.g1_e12
                             AND s.g2 = t.g2_e12 AND s.g3 = t.g3_e12
                             AND s.g4 = t.g4_e12 AND s.sse = t.sse_e12
                             AND s.n = t.n
                        THEN 1 ELSE 0 END AS accum_equal
                FROM sums s CROSS JOIN tot t)
       SELECT CAST(allr.shard AS BIGINT) AS shard,
              g0_e12, g1_e12, g2_e12, g3_e12, g4_e12, sse_e12,
              CAST(n AS BIGINT) AS n,
              CAST(flag.accum_equal AS INTEGER) AS accum_equal
       FROM allr CROSS JOIN flag ORDER BY shard"""
  }

  private def qualityTrainOracleSql: String = {
    val rows = (1 to QtIters).map { i =>
      s"""SELECT CAST($i AS INTEGER) AS iter, w0, w1, w2, w3, w4,
              CAST((SELECT sse FROM qg_$i) AS BIGINT) AS sse_e12,
              CAST((SELECT n FROM qg_$i) AS BIGINT) AS n
         FROM qw_$i"""
    }.mkString(" UNION ALL ")
    s"WITH $qtCtes $rows ORDER BY iter"
  }

  private def qualityTrainIncrementalOracleSql: String = {
    val baseChain =
      s"""qf AS (${qtFeatureSelect("doc_id % 10 != 9")}),
         qfd AS (${qtFeatureSelect("doc_id % 10 = 9")}),
         qw_0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2,
                         0.0 AS w3, 0.0 AS w4),
         ${(1 to QtIters).map(qtStepCtes(_, "qf")).mkString(",\n")},
         ${qtStepCtes(QtIters + 1, "qfd")}"""
    val rows = ((1 to QtIters).map { i =>
      s"""SELECT 'base' AS phase, CAST($i AS INTEGER) AS iter,
              w0, w1, w2, w3, w4,
              CAST((SELECT sse FROM qg_$i) AS BIGINT) AS sse_e12,
              CAST((SELECT n FROM qg_$i) AS BIGINT) AS n
         FROM qw_$i"""
    } :+ s"""SELECT 'delta', CAST(${QtIters + 1} AS INTEGER),
              w0, w1, w2, w3, w4,
              CAST((SELECT sse FROM qg_${QtIters + 1}) AS BIGINT),
              CAST((SELECT n FROM qg_${QtIters + 1}) AS BIGINT)
         FROM qw_${QtIters + 1}""").mkString(" UNION ALL ")
    s"WITH $baseChain $rows ORDER BY iter"
  }

  private def qualityClassifyOracleSql: String =
    s"""WITH $qtCtes,
       sc AS (SELECT f.id, f.y,
                0.5 + 0.5 * z / (1.0 + abs(z)) AS p
              FROM (SELECT f.*, w.w0 + w.w1 * x1 + w.w2 * x2
                               + w.w3 * x3 + w.w4 * x4 AS z
                    FROM qf f CROSS JOIN qw_$QtIters w) f)
       SELECT id, round(p, 6) AS score_r,
              CAST(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS INTEGER)
                AS pred,
              CAST(y AS INTEGER) AS y
       FROM sc ORDER BY id"""

  /** The evaluation frame's replay: scored probabilities from the
    * recomputed final weights, quantized to e6 (the engine's
    * qtScoresE6 twin — identical double arithmetic, then floor).
    */
  private def qtProbCte: String =
    s"""qp AS (
         SELECT id, CAST(y AS BIGINT) AS y,
                CAST(floor(p * 1e6 + 0.5) AS BIGINT) AS score_e6,
                CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS pred
         FROM (SELECT f.id, f.y,
                      0.5 + 0.5 * z / (1.0 + abs(z)) AS p
               FROM (SELECT f.*, w.w0 + w.w1 * x1 + w.w2 * x2
                                + w.w3 * x3 + w.w4 * x4 AS z
                     FROM qf f CROSS JOIN qw_$QtIters w) f) pr)"""

  /** The Mann–Whitney decomposition replayed: per-value counts, the
    * two-level cumulative (bucket offsets + within-bucket window —
    * the engine's exact decomposition, though DuckDB could one-level
    * it), 2×-midranks, HUGEINT rank-sum products (the engine's
    * DECIMAL(38,0) twin), integer floor division.
    */
  /** The Mann–Whitney chain over a (score_e6, y) source CTE: the
    * engine's exact two-level decomposition (bucket offsets +
    * within-bucket cumulative — DuckDB could one-level it, but the
    * twin mirrors the decomposition), 2×-midranks, HUGEINT rank-sum
    * products (the engine's DECIMAL(38,0) twin). Ends at `ag`
    * (np, nn, prs2); `aucSelectSql` is the final division.
    */
  private def aucChainCtes(src: String): String =
    s"""bv AS (SELECT score_e6, score_e6 // 16384 AS bkt,
                     CAST(count(*) AS BIGINT) AS cnt,
                     CAST(sum(y) AS BIGINT) AS pos
              FROM $src GROUP BY score_e6),
       boff AS (SELECT bkt,
                       CAST(coalesce(sum(bn) OVER (ORDER BY bkt
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS BIGINT) AS offs
                FROM (SELECT bkt, sum(cnt) AS bn FROM bv GROUP BY bkt) b),
       rk AS (SELECT bv.pos, bv.cnt,
                     2 * (boff.offs
                          + CAST(coalesce(sum(bv.cnt) OVER (
                              PARTITION BY bv.bkt ORDER BY bv.score_e6
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS BIGINT))
                       + bv.cnt + 1 AS rank2
              FROM bv JOIN boff USING (bkt)),
       ag AS (SELECT CAST(sum(pos) AS BIGINT) AS np,
                     CAST(sum(cnt - pos) AS BIGINT) AS nn,
                     sum(CAST(pos AS HUGEINT) * rank2) AS prs2
              FROM rk)"""

  private val aucSelectSql: String =
    """CASE WHEN np > 0 AND nn > 0 THEN
         CAST((prs2 - CAST(np AS HUGEINT) * (np + 1)) * 1000000
              // (2 * CAST(np AS HUGEINT) * nn) AS BIGINT)
       END"""

  private def qualityAucOracleSql: String =
    s"""WITH $qtCtes, $qtProbCte,
       ${aucChainCtes("qp")}
       SELECT np AS n_pos, nn AS n_neg, $aucSelectSql AS auc_e6
       FROM ag"""

  /** The four confusion cells as conditional sums over a (y, pred)
    * source — the one spelling shared by every confusion-style oracle
    * (quality_confusion, langid_eval, stream_eval).
    */
  private val confusionCellsSql: String =
    """CAST(sum(CASE WHEN y = 1 AND pred = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(sum(CASE WHEN y = 0 AND pred = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(sum(CASE WHEN y = 1 AND pred = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CAST(sum(CASE WHEN y = 0 AND pred = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS tn"""

  /** cm (the cells) + ck (kappa numerator/denominator) over a
    * (y, pred) source CTE — the confusion analogue of
    * [[aucChainCtes]], factored so a kappa edge-case fix cannot
    * silently miss one of the oracle twins.
    */
  private def confusionChainCtes(src: String): String =
    s"""cm AS (SELECT $confusionCellsSql FROM $src),
       ck AS (SELECT *,
                (tp + fp + fn + tn) * (tp + tn)
                  - ((tp + fp) * (tp + fn) + (fp + tn) * (fn + tn))
                  AS kappa_num,
                (tp + fp + fn + tn) * (tp + fp + fn + tn)
                  - ((tp + fp) * (tp + fn) + (fp + tn) * (fn + tn))
                  AS kappa_den
              FROM cm)"""

  // the derived-metric expressions over cm/ck columns, shared verbatim
  // by the single-row and unpivoted confusion oracles
  private val accSql: String =
    "CAST((tp + tn) * 1000000 // (tp + fp + fn + tn) AS BIGINT)"
  private val precSql: String =
    """CASE WHEN tp + fp > 0
            THEN CAST(tp * 1000000 // (tp + fp) AS BIGINT) END"""
  private val recSql: String =
    """CASE WHEN tp + fn > 0
            THEN CAST(tp * 1000000 // (tp + fn) AS BIGINT) END"""
  private val f1Sql: String =
    """CASE WHEN 2 * tp + fp + fn > 0
            THEN CAST(2 * tp * 1000000 // (2 * tp + fp + fn)
                      AS BIGINT) END"""
  private val kappaSql: String =
    """CASE WHEN kappa_den > 0 THEN
         (CASE WHEN kappa_num < 0 THEN -1 ELSE 1 END)
         * CAST(abs(kappa_num) * 1000000 // kappa_den AS BIGINT)
       END"""

  /** quality_auc_holdout's replay: the 3-step GD chain over the 90%
    * base, the held-out 10% scored with the final weights, the full
    * Mann–Whitney decomposition over just those scores.
    */
  private def qualityAucHoldoutOracleSql: String =
    s"""WITH qf AS (${qtFeatureSelect("doc_id % 10 != 9")}),
       qfd AS (${qtFeatureSelect("doc_id % 10 = 9")}),
       qw_0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2,
                       0.0 AS w3, 0.0 AS w4),
       ${(1 to QtIters).map(qtStepCtes(_, "qf")).mkString(",\n")},
       hp AS (SELECT CAST(y AS BIGINT) AS y,
                     CAST(floor(p * 1e6 + 0.5) AS BIGINT) AS score_e6
              FROM (SELECT f.y,
                           0.5 + 0.5 * z / (1.0 + abs(z)) AS p
                    FROM (SELECT f.*, w.w0 + w.w1 * x1 + w.w2 * x2
                                     + w.w3 * x3 + w.w4 * x4 AS z
                          FROM qfd f CROSS JOIN qw_$QtIters w) f) pr),
       ${aucChainCtes("hp")}
       SELECT np AS n_pos, nn AS n_neg, $aucSelectSql AS auc_e6
       FROM ag"""

  private def qualityConfusionOracleSql: String =
    s"""WITH $qtCtes, $qtProbCte,
       ${confusionChainCtes("qp")}
       SELECT tp, fp, fn, tn,
              $accSql AS acc_e6,
              $precSql AS prec_e6,
              $recSql AS rec_e6,
              $f1Sql AS f1_e6,
              kappa_num, kappa_den,
              $kappaSql AS kappa_e6
       FROM ck"""

  /** quality_stump's replay: e6-quantized features unpivoted against
    * the threshold grid, every candidate's conditional sums, the
    * exact-rational Gini, the HUGEINT ⌊num·10¹²/den⌋ score (trunc =
    * the engine's BigInt floordiv on this non-negative domain), and
    * the deterministic argmin window.
    */
  private def qualityStumpOracleSql: String = {
    val grid = graft.ops.Stump.GridE6.map(t => s"($t)").mkString(",")
    s"""WITH qf AS (${qtFeatureSelect("TRUE")}),
       fe AS (SELECT
                CAST(floor(x1 * 1e6 + 0.5) AS BIGINT) AS x1_e6,
                CAST(floor(x2 * 1e6 + 0.5) AS BIGINT) AS x2_e6,
                CAST(floor(x3 * 1e6 + 0.5) AS BIGINT) AS x3_e6,
                CAST(floor(x4 * 1e6 + 0.5) AS BIGINT) AS x4_e6,
                CAST(y AS BIGINT) AS yl
              FROM qf),
       u AS (SELECT 'x1' AS feature, x1_e6 AS f, yl FROM fe
             UNION ALL SELECT 'x2', x2_e6, yl FROM fe
             UNION ALL SELECT 'x3', x3_e6, yl FROM fe
             UNION ALL SELECT 'x4', x4_e6, yl FROM fe),
       g AS (SELECT CAST(thr_e6 AS BIGINT) AS thr_e6
             FROM (VALUES $grid) v(thr_e6)),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(yl) AS BIGINT) AS p FROM fe),
       c AS (SELECT u.feature, g.thr_e6,
               CAST(sum(CASE WHEN u.f <= g.thr_e6 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_left,
               CAST(sum(CASE WHEN u.f <= g.thr_e6 THEN u.yl ELSE 0 END)
                    AS BIGINT) AS pos_left
             FROM u CROSS JOIN g GROUP BY u.feature, g.thr_e6),
       d AS (SELECT feature, thr_e6, n_left, pos_left,
               (SELECT n FROM tot) - n_left AS n_right,
               (SELECT p FROM tot) - pos_left AS pos_right
             FROM c),
       e AS (SELECT *,
               2 * pos_left * (n_left - pos_left) * n_right
                 + 2 * pos_right * (n_right - pos_right) * n_left
                 AS gini_num,
               n_left * n_right AS gini_den
             FROM d),
       sc AS (SELECT *,
                CASE WHEN gini_den > 0 THEN
                  CAST(CAST(gini_num AS HUGEINT) * 1000000000000
                       // gini_den AS BIGINT)
                END AS score_e12
              FROM e),
       w AS (SELECT feature, thr_e6,
               row_number() OVER (ORDER BY
                 CASE WHEN score_e12 IS NULL THEN 1 ELSE 0 END,
                 score_e12, feature, thr_e6) AS rn
             FROM sc)
       SELECT sc.feature, sc.thr_e6, n_left, pos_left, n_right,
              pos_right, gini_num, gini_den, score_e12,
              CAST(CASE WHEN w.rn = 1 THEN 1 ELSE 0 END AS INTEGER)
                AS chosen
       FROM sc JOIN w USING (feature, thr_e6)
       ORDER BY sc.feature, sc.thr_e6"""
  }

  private def qualityCalibrationOracleSql: String =
    s"""WITH $qtCtes, $qtProbCte
       SELECT least(score_e6 // 100000, 9) AS bin,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(y) AS BIGINT) AS n_pos,
              CAST(sum(score_e6) // count(*) AS BIGINT) AS mean_p_e6,
              CAST(sum(y) * 1000000 // count(*) AS BIGINT)
                AS pos_rate_e6,
              CAST(sum(y) * 1000000 // count(*)
                   - sum(score_e6) // count(*) AS BIGINT) AS gap_e6
       FROM qp GROUP BY 1 ORDER BY bin"""

  /** langid_eval's replay: marker counts → integer score + argmax
    * pred, the shared AUC chain, the confusion cells, all unpivoted
    * to the (metric, value) long table.
    */
  /** The lang-ID 'en'-detector score frame's replay (`s` + `sp`
    * CTEs), shared by langid_eval / langid_pr_curve / stream_eval.
    * `extraS`/`extraSp` propagate additional grouping columns through
    * each level (e.g. `"doc_id % 2 AS batch,"` then `"batch,"` —
    * trailing commas included).
    */
  private def langidSpCtes(extraS: String, extraSp: String = ""): String = {
    val sEn = markerCount(TextOps.LangMarkers(0)._2)
    val sDe = markerCount(TextOps.LangMarkers(1)._2)
    val sEs = markerCount(TextOps.LangMarkers(2)._2)
    val sFr = markerCount(TextOps.LangMarkers(3)._2)
    s"""s AS (SELECT $extraS
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             $sEn AS s_en, $sDe AS s_de, $sEs AS s_es, $sFr AS s_fr
           FROM documents),
       sp AS (SELECT $extraSp CAST(y AS BIGINT) AS y,
                     CASE WHEN s_en + s_de + s_es + s_fr > 0
                          THEN CAST(s_en AS BIGINT) * 1000000
                               // (s_en + s_de + s_es + s_fr)
                          ELSE 500000 END AS score_e6,
                     CASE WHEN s_en > 0 AND s_en >= s_de
                               AND s_en >= s_es AND s_en >= s_fr
                          THEN 1 ELSE 0 END AS pred
              FROM s)"""
  }

  private def langidEvalOracleSql: String =
    s"""WITH ${langidSpCtes("")},
       ${aucChainCtes("sp")},
       ${confusionChainCtes("sp")}
       SELECT metric, value FROM (
         SELECT 'auc_e6' AS metric, $aucSelectSql AS value FROM ag
         UNION ALL SELECT 'n_neg', nn FROM ag
         UNION ALL SELECT 'n_pos', np FROM ag
         UNION ALL SELECT 'tp', tp FROM cm
         UNION ALL SELECT 'fp', fp FROM cm
         UNION ALL SELECT 'fn', fn FROM cm
         UNION ALL SELECT 'tn', tn FROM cm
         UNION ALL SELECT 'acc_e6', $accSql FROM cm
         UNION ALL SELECT 'prec_e6', $precSql FROM cm
         UNION ALL SELECT 'rec_e6', $recSql FROM cm
         UNION ALL SELECT 'f1_e6', $f1Sql FROM cm
         UNION ALL SELECT 'kappa_num', kappa_num FROM ck
         UNION ALL SELECT 'kappa_den', kappa_den FROM ck
         UNION ALL SELECT 'kappa_e6', $kappaSql FROM ck) u
       ORDER BY metric"""

  /** langid_pr_curve's replay: per-threshold conditional sums over
    * the replayed score frame, one UNION ALL arm per threshold.
    */
  private def langidPrCurveOracleSql: String = {
    val arms = (1L to 9L).map(_ * 100000L).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS thr_e6,
            CAST(sum(CASE WHEN score_e6 >= $t THEN y ELSE 0 END)
                 AS BIGINT) AS tp,
            CAST(sum(CASE WHEN score_e6 >= $t AND y = 0 THEN 1 ELSE 0
                          END) AS BIGINT) AS fp,
            CAST(sum(CASE WHEN score_e6 < $t THEN y ELSE 0 END)
                 AS BIGINT) AS fn,
            CAST(sum(CASE WHEN score_e6 < $t AND y = 0 THEN 1 ELSE 0
                          END) AS BIGINT) AS tn
          FROM sp"""
    }.mkString(" UNION ALL ")
    s"""WITH ${langidSpCtes("")}
       SELECT thr_e6, tp, fp, fn, tn,
              $precSql AS prec_e6,
              $recSql AS rec_e6
       FROM ($arms) u ORDER BY thr_e6"""
  }

  /** stream_eval's replay: the per-micro-batch confusion cells are a
    * pure function of the doc_id-parity split (the docStage staging
    * contract: file i = doc_id % 2 = i, mtime-ordered,
    * maxFilesPerTrigger = 1).
    */
  private def streamEvalOracleSql: String =
    s"""WITH ${langidSpCtes("doc_id % 2 AS batch,", "batch,")},
       g AS (SELECT batch,
               CAST(count(*) AS BIGINT) AS n,
               $confusionCellsSql
             FROM sp GROUP BY batch)
       SELECT CAST(batch AS BIGINT) AS batch, n, tp, fp, fn, tn,
              $accSql AS acc_e6
       FROM g ORDER BY batch"""

  /** reservoir_sample's replay: the SplitMix64 key chain in UBIGINT
    * split-multiply SQL (salt generated from the kernel at map-build
    * time — the epoch_shuffle discipline), signed reinterpretation,
    * then DuckDB's own per-group ranking window as the definition the
    * bounded aggregator must equal.
    */
  private def reservoirSampleOracleSql: String = {
    val salt = java.lang.Long.toUnsignedString(
      graft.functions.Kernels.mix64(777L))
    s"""WITH sc AS (SELECT lang, doc_id,
                  xor(CAST(doc_id AS UBIGINT), $salt::UBIGINT) AS u
                FROM documents),
       m1 AS (SELECT lang, doc_id,
                CAST((CAST(u AS HUGEINT) + 11400714819323198485)
                     % 18446744073709551616 AS UBIGINT) AS z1 FROM sc),
       m2 AS (SELECT lang, doc_id,
                CAST(((CAST(xor(z1, z1 >> 30) % 4294967296 AS HUGEINT)
                       * 13787848793156543929)
                      + (((CAST(xor(z1, z1 >> 30) // 4294967296 AS HUGEINT)
                           * 484763065) % 4294967296) * 4294967296))
                     % 18446744073709551616 AS UBIGINT) AS z2 FROM m1),
       m3 AS (SELECT lang, doc_id,
                CAST(((CAST(xor(z2, z2 >> 27) % 4294967296 AS HUGEINT)
                       * 10723151780598845931)
                      + (((CAST(xor(z2, z2 >> 27) // 4294967296 AS HUGEINT)
                           * 321982955) % 4294967296) * 4294967296))
                     % 18446744073709551616 AS UBIGINT) AS z3 FROM m2),
       h AS (SELECT lang, doc_id, xor(z3, z3 >> 31) AS hv FROM m3),
       sk AS (SELECT lang, doc_id,
                CAST(CAST(hv AS HUGEINT)
                  - (CASE WHEN hv >= 9223372036854775808::UBIGINT
                     THEN 18446744073709551616::HUGEINT
                     ELSE 0::HUGEINT END) AS BIGINT) AS skey FROM h),
       r AS (SELECT lang, doc_id, skey,
               row_number() OVER (PARTITION BY lang
                 ORDER BY skey DESC, doc_id) AS rn FROM sk)
       SELECT lang, CAST(rn AS INTEGER) AS rank, doc_id, skey
       FROM r WHERE rn <= 4 ORDER BY lang, rank"""
  }

  /** The budget fill replayed end to end: the same SplitMix64 chain
    * (salt mix64(911)) orders each source, the same windowed running
    * token sum admits documents, and the budget/fill arithmetic runs
    * in the identical truncation order.
    */
  private def tokenBudgetMixOracleSql: String = {
    val salt = java.lang.Long.toUnsignedString(
      graft.functions.Kernels.mix64(911L))
    s"""WITH sc AS (SELECT source, doc_id,
                  CAST(len(list_filter(
                    regexp_split_to_array(lower(text), '\\W+'),
                    t -> len(t) > 0)) AS BIGINT) AS ntok,
                  xor(CAST(doc_id AS UBIGINT), $salt::UBIGINT) AS u
                FROM documents),
       m1 AS (SELECT source, doc_id, ntok,
                CAST((CAST(u AS HUGEINT) + 11400714819323198485)
                     % 18446744073709551616 AS UBIGINT) AS z1 FROM sc),
       m2 AS (SELECT source, doc_id, ntok,
                CAST(((CAST(xor(z1, z1 >> 30) % 4294967296 AS HUGEINT)
                       * 13787848793156543929)
                      + (((CAST(xor(z1, z1 >> 30) // 4294967296 AS HUGEINT)
                           * 484763065) % 4294967296) * 4294967296))
                     % 18446744073709551616 AS UBIGINT) AS z2 FROM m1),
       m3 AS (SELECT source, doc_id, ntok,
                CAST(((CAST(xor(z2, z2 >> 27) % 4294967296 AS HUGEINT)
                       * 10723151780598845931)
                      + (((CAST(xor(z2, z2 >> 27) // 4294967296 AS HUGEINT)
                           * 321982955) % 4294967296) * 4294967296))
                     % 18446744073709551616 AS UBIGINT) AS z3 FROM m2),
       h AS (SELECT source, doc_id, ntok, xor(z3, z3 >> 31) AS hv FROM m3),
       sk AS (SELECT source, doc_id, ntok,
                CAST(CAST(hv AS HUGEINT)
                  - (CASE WHEN hv >= 9223372036854775808::UBIGINT
                     THEN 18446744073709551616::HUGEINT
                     ELSE 0::HUGEINT END) AS BIGINT) AS skey FROM h),
       cu AS (SELECT source, doc_id, ntok,
                sum(ntok) OVER (PARTITION BY source
                  ORDER BY skey, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum FROM sk),
       tt AS (SELECT source, CAST(sum(ntok) AS BIGINT) AS tot_tokens,
                CAST(sum(ntok) * 2 // 5 AS BIGINT) AS budget
              FROM sc GROUP BY 1),
       ag AS (SELECT cu.source, count(*) AS n_docs,
                CAST(sum(cu.ntok) AS BIGINT) AS sel_tokens
              FROM cu JOIN tt ON cu.source = tt.source
              WHERE cu.cum <= tt.budget GROUP BY 1)
       SELECT tt.source, tt.tot_tokens, tt.budget AS budget_tokens,
              CAST(coalesce(ag.n_docs, 0) AS BIGINT) AS n_docs,
              CAST(coalesce(ag.sel_tokens, 0) AS BIGINT) AS sel_tokens,
              CAST(CASE WHEN tt.budget > 0
                   THEN (coalesce(ag.sel_tokens, 0) * 1000000) // tt.budget
                   ELSE 0 END AS BIGINT) AS fill_e6
       FROM tt LEFT JOIN ag ON tt.source = ag.source
       ORDER BY tt.source"""
  }

  val oracle: Map[String, String] = Map(
    // the quality kernel chain + per-source rank window + the exact
    // integer percentile and the 90% cut — the calibration replayed
    "quality_quantile_norm" ->
      """WITH s AS (
           SELECT doc_id, source,
             greatest(length(text), 1)::BIGINT AS len,
             len(list_filter(regexp_split_to_array(text, '\s+'),
                             x -> len(x) > 0))::BIGINT AS tc,
             greatest(len(list_filter(regexp_split_to_array(text, '\s+'),
                                      x -> len(x) > 0)), 1)::BIGINT AS nt,
             (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::BIGINT AS p,
             len(list_filter(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                         x -> len(x) > 0),
                             x -> x IN ('the','a','of','and','to','in','is','it')))::BIGINT AS sw
           FROM documents),
         n AS (SELECT doc_id, source,
                 4 * least(tc, 100) * len * nt
                   + 300 * (len - p) * nt
                   + 300 * least(sw * 5, nt) * len AS n10,
                 1000 * len * nt AS d10
               FROM s),
         q AS (SELECT doc_id, source,
                 CAST(floor((n10 * 10000)::DOUBLE / d10::DOUBLE) AS BIGINT)
                   AS q_e4
               FROM n),
         r AS (SELECT doc_id, source, q_e4,
                 CAST(row_number() OVER (PARTITION BY source
                      ORDER BY q_e4, doc_id) AS BIGINT) AS rk,
                 count(*) OVER (PARTITION BY source) AS n_src
               FROM q),
         pr AS (SELECT doc_id, source, q_e4,
                  CAST(CASE WHEN n_src > 1
                       THEN ((rk - 1) * 1000000) // (n_src - 1)
                       ELSE 1000000 END AS BIGINT) AS pr_e6
                FROM r)
         SELECT doc_id, source, q_e4, pr_e6,
                CAST(pr_e6 >= 900000 AS INTEGER) AS kept
         FROM pr ORDER BY doc_id""",
    // the distributed exact-ntile decile replayed as plain ntile, the
    // per-(decile, source) interleave position, and the total key
    // order (the length_deciles ntile-pairing precedent)
    "curriculum_order" ->
      """WITH d AS (SELECT doc_id, source,
               CAST(len(list_filter(
                 regexp_split_to_array(lower(text), '\W+'),
                 t -> len(t) > 0)) AS BIGINT) AS ntok
             FROM documents),
         r AS (SELECT doc_id, source, ntok,
                 CAST(ntile(10) OVER (ORDER BY ntok, doc_id) AS BIGINT)
                   AS decile
               FROM d)
         SELECT decile,
                CAST(row_number() OVER (PARTITION BY decile, source
                     ORDER BY doc_id) AS INTEGER) AS pos,
                source, doc_id, ntok
         FROM r ORDER BY decile, pos, source, doc_id""",
    // the bounded-aggregator k-per-group sample vs the ranking-window
    // DEFINITION over the replayed hash priorities
    "reservoir_sample" -> reservoirSampleOracleSql,
    // the same hash-priority order, running token sum, and budget
    // truncation chain
    "token_budget_mix" -> tokenBudgetMixOracleSql,
    // the one-pass PR curve: every threshold's confusion recomputed
    // as conditional sums over the replayed scores
    "langid_pr_curve" -> langidPrCurveOracleSql,
    // per-micro-batch monitoring cells = GROUP BY the doc_id parity
    // that defines the staged batches
    "stream_eval" -> streamEvalOracleSql,
    // the full Mann–Whitney AUC / confusion-matrix / calibration
    // replay: trained weights recomputed via the unrolled GD chain,
    // then each metric's exact-integer arithmetic mirrored; the
    // langid_eval twin runs the same chain over the marker-ratio
    // score and unpivots to the (metric, value) report
    "langid_eval" -> langidEvalOracleSql,
    "quality_auc" -> qualityAucOracleSql,
    "quality_confusion" -> qualityConfusionOracleSql,
    "quality_calibration" -> qualityCalibrationOracleSql,
    // the stump trainer's whole candidate search replayed: quantized
    // features × threshold grid, exact-rational Gini, argmin window
    "quality_stump" -> qualityStumpOracleSql,
    // the generalization gap: base-trained weights, held-out scores,
    // the full rank decomposition over just the unseen 10%
    "quality_auc_holdout" -> qualityAucHoldoutOracleSql,
    // in-engine GD training replayed as unrolled 1-row gradient
    // aggregates (e12 int64) — the weight trajectory hash-compares as
    // exact doubles; scoring reuses the recomputed final weights
    "quality_train" -> qualityTrainOracleSql,
    // the data-parallel gradient algebra replayed + equality-pinned
    "grad_accum_equiv" -> gradAccumEquivOracleSql,
    // base phase + the delta-only online step, both replayed
    "quality_train_incremental" -> qualityTrainIncrementalOracleSql,
    "quality_classify" -> qualityClassifyOracleSql,
    // batch/stream equivalence of train-then-serve: the streamed
    // scores must equal the batch scorer's replay bit-for-bit
    "stream_classify" -> qualityClassifyOracleSql,
    // the winnowing FINGERPRINT KERNEL replayed bit-for-bit in SQL:
    // byte-level k-gram FNV-1a + SplitMix64 (split-multiply mod-2^64 as
    // in dedup_simhash; the corpus is pure ASCII so chars == bytes),
    // window minima via a 4-row window frame COMPARED SIGNED (the
    // kernel's Long ordering), then per-doc distinct
    "fingerprint" ->
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
           WHERE i <= CASE WHEN nk >= 4 THEN nk - 3 ELSE 1 END)
         SELECT id, fp FROM fps ORDER BY id, fp""",
    "bpe_merges" -> bpeOracle(BpeMerges),
    // both chains unrolled; per-rank agreement is the value checked
    "bpe_drift" -> bpeDriftOracle(BpeMerges),
    "bpe_encode" -> bpeEncodeOracle(BpeMerges),
    "bpe_fertility" -> bpeFertilityOracle(BpeMerges),
    // what losslessness REQUIRES: every word decodes back, with the
    // word count recomputed independently from the text — any mangled
    // word in the engine's merge fold breaks the hash
    "bpe_roundtrip" ->
      """WITH w AS (
           SELECT doc_id,
                  CAST(len(list_filter(
                    regexp_split_to_array(lower(text), '\s+'),
                    x -> regexp_matches(x, '^[a-z]+$'))) AS BIGINT)
                    AS n_words
           FROM documents)
         SELECT doc_id, n_words, n_words AS n_ok
         FROM w ORDER BY doc_id""",
    "mixture_sample" ->
      """WITH d AS (SELECT doc_id, source,
                           (((doc_id % 4294967296) % 65536) * 2654435761
                            + ((((doc_id % 4294967296) // 65536)
                                * 2654435761) % 65536) * 65536)
                           % 4294967296 AS rk,
                           CAST(substr(source, 4) AS INT) % 4 + 1 AS w
                    FROM documents),
              r AS (SELECT doc_id, source, w,
                           row_number() OVER (PARTITION BY source
                                              ORDER BY rk, doc_id) AS rn,
                           (SELECT count(*) FROM documents) AS n_total
                    FROM d)
         SELECT doc_id, source, w FROM r
         WHERE rn <= n_total * 2 // 5 * w // 50
         ORDER BY doc_id""",
    // the explicit position rule spelled out on both sides (lower
    // median (n+1)//2, p90 (9n+9)//10) — no engine's private
    // quantile definition enters the compare
    "median_exact" ->
      """WITH c AS (SELECT lang, n_chars, count(*) AS c
                    FROM documents GROUP BY lang, n_chars),
         q AS (SELECT lang, n_chars, c,
                      sum(c) OVER (PARTITION BY lang ORDER BY n_chars
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum,
                      sum(c) OVER (PARTITION BY lang) AS n
               FROM c)
         SELECT q.lang, CAST(max(q.n) AS BIGINT) AS n,
                min(CASE WHEN cum >= (n + 1) // 2
                         THEN n_chars END) AS median_chars,
                min(CASE WHEN cum >= (9 * n + 9) // 10
                         THEN n_chars END) AS p90_chars
         FROM q GROUP BY q.lang ORDER BY q.lang""",
    // data-derived α = 0.5 temperature weights: w_g = exact ⌊√n_g⌋
    // (±1-corrected double sqrt), quota = (total·2//5)·w // Σw — the
    // same truncation order as the engine's driver arithmetic
    "mixture_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents
                    GROUP BY lang),
         s0 AS (SELECT lang, n,
                       CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s
                FROM c),
         w AS (SELECT lang,
                      s + (CASE WHEN (s+1)*(s+1) <= n THEN 1 ELSE 0 END)
                        - (CASE WHEN s*s > n THEN 1 ELSE 0 END) AS w
               FROM s0),
         q AS (SELECT lang,
                      ((SELECT sum(n) FROM c) * 2 // 5) * w
                        // (SELECT sum(w) FROM w) AS quota
               FROM w),
         r AS (SELECT doc_id, lang,
                      row_number() OVER (PARTITION BY lang
                        ORDER BY (((doc_id % 4294967296) % 65536) * 2654435761
                                  + ((((doc_id % 4294967296) // 65536)
                                      * 2654435761) % 65536) * 65536)
                                 % 4294967296,
                                 doc_id) AS rn
               FROM documents)
         SELECT doc_id, lang FROM r JOIN q USING (lang)
         WHERE rn <= quota
         ORDER BY doc_id""",
    "text_stats" ->
      """SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars_m,
           CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0)) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpe_tokens,
           CAST(length(regexp_replace(text, '\s', '', 'g')) AS INTEGER) AS n_content_chars,
           round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE
                 / greatest(length(text), 1), 4) AS punct_ratio_r,
           round(len(list_filter(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0),
                                 x -> x IN ('the','a','of','and','to','in','is','it')))::DOUBLE
                 / greatest(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)), 1),
                 4) AS stopword_ratio_r
         FROM documents ORDER BY doc_id""",
    "quality_score" ->
      """WITH s AS (
           SELECT doc_id,
             greatest(length(text), 1)::BIGINT AS len,
             len(list_filter(regexp_split_to_array(text, '\s+'),
                             x -> len(x) > 0))::BIGINT AS tc,
             greatest(len(list_filter(regexp_split_to_array(text, '\s+'),
                                      x -> len(x) > 0)), 1)::BIGINT AS nt,
             (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::BIGINT AS p,
             len(list_filter(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                         x -> len(x) > 0),
                             x -> x IN ('the','a','of','and','to','in','is','it')))::BIGINT AS sw
           FROM documents),
         n AS (SELECT doc_id,
                 4 * least(tc, 100) * len * nt
                   + 300 * (len - p) * nt
                   + 300 * least(sw * 5, nt) * len AS n10,
                 1000 * len * nt AS d10
               FROM s)
         SELECT doc_id,
           CAST(floor((n10 * 10000)::DOUBLE / d10::DOUBLE) AS BIGINT) AS quality_e4
         FROM n ORDER BY doc_id""",
    // the quality kernel chain replayed per doc, then decile cells,
    // the DESC cumulative window, and the integer share arithmetic
    "quality_token_curve" ->
      """WITH s AS (
           SELECT doc_id,
             greatest(length(text), 1)::BIGINT AS len,
             len(list_filter(regexp_split_to_array(text, '\s+'),
                             x -> len(x) > 0))::BIGINT AS tc,
             greatest(len(list_filter(regexp_split_to_array(text, '\s+'),
                                      x -> len(x) > 0)), 1)::BIGINT AS nt,
             (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::BIGINT AS p,
             len(list_filter(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                         x -> len(x) > 0),
                             x -> x IN ('the','a','of','and','to','in','is','it')))::BIGINT AS sw
           FROM documents),
         n AS (SELECT doc_id,
                 4 * least(tc, 100) * len * nt
                   + 300 * (len - p) * nt
                   + 300 * least(sw * 5, nt) * len AS n10,
                 1000 * len * nt AS d10
               FROM s),
         q AS (SELECT doc_id,
                 CAST(floor((n10 * 10000)::DOUBLE / d10::DOUBLE) AS BIGINT)
                   AS quality_e4
               FROM n),
         tkc AS (SELECT doc_id,
                   CAST(len(list_filter(
                     regexp_split_to_array(lower(text), '\W+'),
                     t -> len(t) > 0)) AS BIGINT) AS ntok
                 FROM documents),
         per AS (SELECT least(q.quality_e4 // 1000, 9) AS bucket,
                        tkc.ntok
                 FROM q JOIN tkc USING (doc_id)),
         cells AS (SELECT bucket, count(*) AS n_docs,
                     CAST(sum(ntok) AS BIGINT) AS n_tokens
                   FROM per GROUP BY 1),
         cum AS (SELECT bucket, n_docs, n_tokens,
                   CAST(sum(n_tokens) OVER (ORDER BY bucket DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum_tokens_ge,
                   CAST(sum(n_tokens) OVER () AS BIGINT) AS total
                 FROM cells)
         SELECT bucket, n_docs, n_tokens, cum_tokens_ge,
                CAST((cum_tokens_ge * 1000000) // total AS BIGINT)
                  AS share_ge_e6
         FROM cum ORDER BY bucket""",
    // both legs replayed — the bm25_rank CTE chain for lexical, the
    // ann_topk float convention (round 4, id tie-break) for dense —
    // then the RRF fusion in exact e9 integers over the two top-50s
    "hybrid_rank" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\W+'),
                         x -> len(x) > 0) AS toks
           FROM documents),
         dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tok),
         st AS (SELECT count(*)::BIGINT AS n_docs,
                       (sum(dl)::BIGINT * 1000) // count(*)::BIGINT AS avg_e3
                FROM dl),
         tf AS (SELECT doc_id, token,
                       least(count(*)::BIGINT, 10000) AS tfc
                FROM (SELECT doc_id, unnest(toks) AS token FROM tok)
                WHERE token IN ('hash', 'join', 'filter')
                GROUP BY 1, 2),
         d AS (SELECT token, count(*)::BIGINT AS dfc FROM tf GROUP BY 1),
         c AS (SELECT tf.doc_id,
                      (st.n_docs // d.dfc) *
                        ((22 * tf.tfc * st.avg_e3 * 1000000)
                         // (10 * tf.tfc * st.avg_e3 + 3 * st.avg_e3
                             + 9 * dl.dl * 1000)) AS contrib_e6
               FROM tf JOIN d USING (token) JOIN dl USING (doc_id)
                    CROSS JOIN st),
         lexn AS (SELECT doc_id, CAST(sum(contrib_e6) AS BIGINT) AS score_e6
                  FROM c GROUP BY 1
                  ORDER BY score_e6 DESC, doc_id LIMIT 50),
         lex AS (SELECT doc_id,
                        row_number() OVER (ORDER BY score_e6 DESC, doc_id)
                          AS rank_lex
                 FROM lexn),
         q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0),
         ds AS (SELECT vec_id AS doc_id,
                       round(list_dot_product(qv, cv)
                             / sqrt(list_dot_product(qv, qv)
                                    * list_dot_product(cv, cv)), 4) AS sim_r
                FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
                      FROM embeddings) CROSS JOIN q),
         densen AS (SELECT doc_id, sim_r FROM ds
                    ORDER BY sim_r DESC, doc_id LIMIT 50),
         dense AS (SELECT doc_id,
                          row_number() OVER (ORDER BY sim_r DESC, doc_id)
                            AS rank_dense
                   FROM densen),
         f AS (SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
                      l.rank_lex, d.rank_dense
               FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id)
         SELECT doc_id,
                CAST(coalesce(1000000000 // (60 + rank_lex), 0)
                     + coalesce(1000000000 // (60 + rank_dense), 0)
                     AS BIGINT) AS rrf_e9,
                CAST(rank_lex AS BIGINT) AS rank_lex,
                CAST(rank_dense AS BIGINT) AS rank_dense
         FROM f ORDER BY rrf_e9 DESC, doc_id""",
    "bm25_rank" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\W+'),
                         x -> len(x) > 0) AS toks
           FROM documents),
         dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tok),
         st AS (SELECT count(*)::BIGINT AS n_docs,
                       (sum(dl)::BIGINT * 1000) // count(*)::BIGINT AS avg_e3
                FROM dl),
         tf AS (SELECT doc_id, token,
                       least(count(*)::BIGINT, 10000) AS tfc
                FROM (SELECT doc_id, unnest(toks) AS token FROM tok)
                WHERE token IN ('hash', 'join', 'filter')
                GROUP BY 1, 2),
         d AS (SELECT token, count(*)::BIGINT AS dfc FROM tf GROUP BY 1),
         c AS (SELECT tf.doc_id,
                      (st.n_docs // d.dfc) *
                        ((22 * tf.tfc * st.avg_e3 * 1000000)
                         // (10 * tf.tfc * st.avg_e3 + 3 * st.avg_e3
                             + 9 * dl.dl * 1000)) AS contrib_e6
               FROM tf JOIN d USING (token) JOIN dl USING (doc_id)
                    CROSS JOIN st)
         SELECT doc_id, CAST(sum(contrib_e6) AS BIGINT) AS score_e6,
                count(*)::BIGINT AS n_terms
         FROM c GROUP BY 1
         ORDER BY score_e6 DESC, doc_id LIMIT 50""",
    // synthesis AND canonicalization replayed (html_extract
    // convention): the canonical string is constructed directly from
    // the same doc_id arms — lowercased host, :443 stripped / :8080
    // kept, '//' collapsed, trailing '/' dropped, utm_ params gone and
    // the rest sorted, fragment gone — so every rule is hash-pinned
    "url_canonicalize" ->
      """WITH u AS (
           SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
             || '://'
             || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM'
                      WHEN doc_id % 3 = 1 THEN 'Docs.Example.Com'
                      ELSE 'cdn.example.com' END)
             || (CASE WHEN doc_id % 5 = 0 THEN ':443'
                      WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END)
             || '/' || source || '//' || lang
             || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 6 = 0 THEN '?b=2&a=1'
                      WHEN doc_id % 6 = 1 THEN '?a=1&b=2'
                      WHEN doc_id % 6 = 2 THEN '?utm_source=feed&a=1'
                      WHEN doc_id % 6 = 3 THEN '?utm_campaign=x'
                      WHEN doc_id % 6 = 4 THEN '?z=9' ELSE '' END)
             || (CASE WHEN doc_id % 7 = 0 THEN '#sec1' ELSE '' END)
               AS url,
             'https://'
             || (CASE WHEN doc_id % 3 = 0 THEN 'www.example.com'
                      WHEN doc_id % 3 = 1 THEN 'docs.example.com'
                      ELSE 'cdn.example.com' END)
             || (CASE WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END)
             || '/' || source || '/' || lang
             || (CASE WHEN doc_id % 6 IN (0, 1) THEN '?a=1&b=2'
                      WHEN doc_id % 6 = 2 THEN '?a=1'
                      WHEN doc_id % 6 = 4 THEN '?z=9' ELSE '' END)
               AS canon_url
           FROM documents)
         SELECT doc_id, url, canon_url,
           CAST(url <> canon_url AS INT) AS changed,
           count(*) OVER (PARTITION BY canon_url) AS n_same_key
         FROM u ORDER BY doc_id""",
    // the same naive OR-chain the Spark side declares — here it IS the
    // definition; on the Spark side the CollapseContainsOr rule turns
    // it into one automaton pass before execution
    "blocklist_declared" -> {
      val conds = BlocklistPatterns
        .map(p => s"contains(text, '${p.replace("'", "''")}')")
        .mkString(" OR ")
      s"""SELECT lang, count(*)::BIGINT AS n_docs,
            CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM documents WHERE $conds
          GROUP BY lang ORDER BY lang"""
    },
    // the P-scan DEFINITION of blocklist matching (one contains() per
    // pattern, patterns as a VALUES table) — the engine's one-pass
    // automaton must reproduce it exactly, suffix/prefix traps and all
    "blocklist_match" -> {
      val vals = BlocklistPatterns.zipWithIndex
        .map { case (p, i) => s"($i, '${p.replace("'", "''")}')" }
        .mkString(", ")
      s"""WITH pat(pid, pat) AS (VALUES $vals)
          SELECT d.doc_id AS doc_id, CAST(p.pid AS BIGINT) AS pattern_id
          FROM documents d JOIN pat p ON contains(d.text, p.pat)
          ORDER BY doc_id, pattern_id"""
    },
    "keyword_search" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE len(list_intersect(
                 list_distinct(list_filter(
                   regexp_split_to_array(lower(text), '\W+'),
                   x -> len(x) > 0)),
                 ['hash', 'join', 'filter'])) = 3
         ORDER BY doc_id""",
    // the three stages recomposed in one chain: quality/langid/token
    // filters (verbatim from the quality_score / lang_id oracles) →
    // keep-min-doc_id dedup on md5(text) → prefix-sum packing (the
    // oracle uses the one-level window; the engine's two-level
    // decomposition is exact, so the results coincide)
    "training_pipeline" -> {
      val sEn = markerCount(TextOps.LangMarkers(0)._2)
      val sDe = markerCount(TextOps.LangMarkers(1)._2)
      val sEs = markerCount(TextOps.LangMarkers(2)._2)
      val sFr = markerCount(TextOps.LangMarkers(3)._2)
      s"""WITH s AS (SELECT doc_id, text,
             greatest(length(text), 1)::BIGINT AS len,
             len(list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> len(x) > 0))::BIGINT AS tc,
             greatest(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                      x -> len(x) > 0)), 1)::BIGINT AS nt,
             (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::BIGINT AS p,
             len(list_filter(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                         x -> len(x) > 0),
                             x -> x IN ('the','a','of','and','to','in','is','it')))::BIGINT AS sw,
             $sEn AS s_en, $sDe AS s_de, $sEs AS s_es, $sFr AS s_fr
           FROM documents),
         q AS (SELECT doc_id, text, tc,
                 CAST(floor(((4 * least(tc, 100) * len * nt
                              + 300 * (len - p) * nt
                              + 300 * least(sw * 5, nt) * len) * 10000)::DOUBLE
                            / (1000 * len * nt)::DOUBLE) AS BIGINT) AS qe4,
                 CASE
                   WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                   WHEN s_de > s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                   WHEN s_es > s_en AND s_es > s_de AND s_es >= s_fr THEN 'es'
                   WHEN s_fr > s_en AND s_fr > s_de AND s_fr > s_es THEN 'fr'
                   ELSE 'und'
                 END AS lang_pred
               FROM s),
         f AS (SELECT doc_id, text, tc FROM q
               WHERE tc >= 20 AND lang_pred <> 'und' AND qe4 >= 5000),
         d AS (SELECT doc_id, tc FROM (
                 SELECT doc_id, tc,
                        row_number() OVER (PARTITION BY md5(text)
                                           ORDER BY doc_id) AS rn
                 FROM f)
               WHERE rn = 1),
         pk AS (SELECT doc_id, tc AS n_tokens,
                  CAST(coalesce(sum(tc) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS seq_start
                FROM d)
         SELECT doc_id, n_tokens, seq_start, seq_start // 2048 AS bin_id
         FROM pk ORDER BY doc_id"""
    },
    "lang_id" -> {
      val sEn = markerCount(TextOps.LangMarkers(0)._2)
      val sDe = markerCount(TextOps.LangMarkers(1)._2)
      val sEs = markerCount(TextOps.LangMarkers(2)._2)
      val sFr = markerCount(TextOps.LangMarkers(3)._2)
      s"""WITH s AS (SELECT doc_id, lang,
             $sEn AS s_en, $sDe AS s_de, $sEs AS s_es, $sFr AS s_fr
           FROM documents)
         SELECT doc_id, lang,
           CASE
             WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
             WHEN s_de > s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_es > s_en AND s_es > s_de AND s_es >= s_fr THEN 'es'
             WHEN s_fr > s_en AND s_fr > s_de AND s_fr > s_es THEN 'fr'
             ELSE 'und'
           END AS lang_pred
         FROM s ORDER BY doc_id"""
    },
    // denominators cleared: Σ|c1·N2 − c2·N1| in HUGEINT, scaled by
    // 10⁶ // (2·N1·N2) — the exact integer twin of the engine's
    // DECIMAL(38,0) arithmetic
    "corpus_drift" ->
      """WITH tok AS (
           SELECT doc_id % 2 = 0 AS early,
                  unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                                     x -> len(x) > 0)) AS token
           FROM documents),
         c AS (SELECT token,
                 CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                 CAST(sum(CASE WHEN NOT early THEN 1 ELSE 0 END) AS BIGINT) AS c2
               FROM tok GROUP BY token),
         n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                      CAST(sum(c2) AS BIGINT) AS n2,
                      count(*) AS vocab FROM c)
         SELECT n.n1 AS n1_tokens, n.n2 AS n2_tokens, n.vocab AS vocab,
           CAST((sum(abs(CAST(c.c1 AS HUGEINT) * n.n2
                       - CAST(c.c2 AS HUGEINT) * n.n1)) * 1000000)
                // (2 * CAST(n.n1 AS HUGEINT) * n.n2) AS BIGINT) AS tv_e6
         FROM c CROSS JOIN n
         GROUP BY n.n1, n.n2, n.vocab""",
    // distinct (source, char-3gram) sets, pair intersections via the
    // gram-keyed self-join, exact-integer Jaccard — same gram
    // convention as cc_exact's substring(text, i, 3)
    "source_overlap" ->
      """WITH g AS (
           SELECT DISTINCT source, substring(text, i, 3) AS g
           FROM documents,
                unnest(range(1, greatest(length(text) - 2, 1) + 1)) AS t(i)),
         sz AS (SELECT source, count(*) AS n FROM g GROUP BY source),
         p AS (SELECT a.source AS src_a, b.source AS src_b,
                      count(*) AS n_common
               FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
               GROUP BY 1, 2)
         SELECT p.src_a, p.src_b, p.n_common,
                CAST(p.n_common * 1000000
                     // (sa.n + sb.n - p.n_common) AS BIGINT) AS jaccard_e6
         FROM p JOIN sz sa ON p.src_a = sa.source
                JOIN sz sb ON p.src_b = sb.source
         ORDER BY src_a, src_b""",
    // the delta ENCODING replayed, not just the posting list: DuckDB
    // rebuilds the sorted list per df-banded gram and recomputes
    // first-id + gaps with a list lambda (l[i-1] is NULL at i=1 →
    // coalesce keeps the first id verbatim)
    "posting_delta" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(text), '\W+'),
                              x -> len(x) > 0) AS ts
           FROM documents),
         big AS (
           SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS gram
           FROM toks, unnest(range(1, len(ts))) AS t(i)),
         post AS (SELECT DISTINCT doc_id, gram FROM big),
         mid AS (SELECT gram, count(*) AS df FROM post
                 GROUP BY gram HAVING count(*) BETWEEN 2 AND 50),
         lists AS (SELECT p.gram, m.df,
                          list(p.doc_id ORDER BY p.doc_id) AS ids
                   FROM post p JOIN mid m ON p.gram = m.gram
                   GROUP BY p.gram, m.df)
         SELECT gram, df,
                array_to_string(
                  list_transform(range(1, len(ids) + 1),
                    i -> CAST(ids[i] - coalesce(ids[i - 1], 0) AS VARCHAR)),
                  ',') AS postings_delta
         FROM lists ORDER BY gram""",
    // maintenance must be indistinguishable from the full recompute —
    // the incremental family's contract, so the oracle is
    // inverted_index's verbatim
    "inverted_delta" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(text), '\W+'),
                              x -> len(x) > 0) AS ts
           FROM documents),
         big AS (
           SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS gram
           FROM toks, unnest(range(1, len(ts))) AS t(i)),
         post AS (SELECT DISTINCT doc_id, gram FROM big),
         rare AS (SELECT gram, count(*) AS df FROM post
                  GROUP BY gram HAVING count(*) <= 20)
         SELECT p.gram, r.df,
                string_agg(CAST(p.doc_id AS VARCHAR), ','
                           ORDER BY p.doc_id) AS postings
         FROM post p JOIN rare r ON p.gram = r.gram
         GROUP BY p.gram, r.df
         ORDER BY p.gram""",
    "inverted_index" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(text), '\W+'),
                              x -> len(x) > 0) AS ts
           FROM documents),
         big AS (
           SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS gram
           FROM toks, unnest(range(1, len(ts))) AS t(i)),
         post AS (SELECT DISTINCT doc_id, gram FROM big),
         rare AS (SELECT gram, count(*) AS df FROM post
                  GROUP BY gram HAVING count(*) <= 20)
         SELECT p.gram, r.df,
                string_agg(CAST(p.doc_id AS VARCHAR), ','
                           ORDER BY p.doc_id) AS postings
         FROM post p JOIN rare r ON p.gram = r.gram
         GROUP BY p.gram, r.df
         ORDER BY p.gram""",
    "corpus_vocab" ->
      """WITH tok AS (
           SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                                     x -> len(x) > 0)) AS token
           FROM documents),
         c AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
         top AS (SELECT token, n FROM c ORDER BY n DESC, token LIMIT 100)
         SELECT token, n,
                CAST(row_number() OVER (ORDER BY n DESC, token)
                     AS INTEGER) AS rank
         FROM top ORDER BY n DESC, token""",
    // the same tokenization replay; bigram cells via the BPE-style
    // adjacent-pair comprehension; lift in HUGEINT `//`, cast BIGINT
    "pmi_bigrams" ->
      """WITH tk AS (
           SELECT list_filter(regexp_split_to_array(lower(text), '\W+'),
                              t -> len(t) > 0) AS ts
           FROM documents),
         bgp AS (SELECT p[1] AS x, p[2] AS y FROM
                   (SELECT unnest([[ts[j], ts[j + 1]]
                                   for j in range(1, len(ts))]) AS p
                    FROM tk WHERE len(ts) >= 2)),
         bg AS (SELECT x, y, count(*) AS c_xy FROM bgp
                GROUP BY 1, 2 HAVING count(*) >= 5),
         uc AS (SELECT w, count(*) AS c_w
                FROM (SELECT unnest(ts) AS w FROM tk) GROUP BY 1),
         nb AS (SELECT sum(CASE WHEN len(ts) >= 1 THEN len(ts) - 1
                           ELSE 0 END) AS nb FROM tk)
         SELECT bg.x, bg.y, CAST(bg.c_xy AS BIGINT) AS c_xy,
                CAST(ux.c_w AS BIGINT) AS c_x,
                CAST(uy.c_w AS BIGINT) AS c_y,
                CAST((bg.c_xy * nb.nb * 1000000)
                     // (ux.c_w * uy.c_w) AS BIGINT) AS lift_e6
         FROM bg
         CROSS JOIN nb
         JOIN uc ux ON bg.x = ux.w
         JOIN uc uy ON bg.y = uy.w
         ORDER BY lift_e6 DESC, bg.x, bg.y LIMIT 20""",
    "tfidf_top_terms" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                                     x -> len(x) > 0)) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         d AS (SELECT token, count(*) AS dfc FROM tf GROUP BY 1),
         j AS (SELECT tf.doc_id, tf.token, tf.tf, d.dfc,
                      (tf.tf * 1000000) // d.dfc AS score_e6
               FROM tf JOIN d USING (token)),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                           ORDER BY score_e6 DESC, token) AS INTEGER) AS rank
               FROM j)
         SELECT doc_id, token, tf, dfc, score_e6, rank
         FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",
    "chunk_tokens" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              x -> len(x) > 0) AS toks
           FROM documents),
         c AS (
           SELECT doc_id,
                  [array_to_string(toks[s : least(s + 63, len(toks))], ' ')
                   for s in range(1, len(toks) + 1, 48)] AS chunks
           FROM t WHERE len(toks) > 0)
         SELECT doc_id,
                unnest(range(0, len(chunks)))::BIGINT AS chunk_idx,
                len(regexp_split_to_array(unnest(chunks), '\s+'))::BIGINT
                  AS n_chunk_tokens,
                unnest(chunks) AS chunk_text
         FROM c ORDER BY doc_id, chunk_idx""",
    "pii_scrub" ->
      """WITH r AS (
           SELECT doc_id,
                  text || ' contact u' || doc_id || '@example.com or 555-' ||
                    lpad((doc_id % 10000)::VARCHAR, 4, '0') AS raw
           FROM documents)
         SELECT doc_id,
           regexp_replace(
             regexp_replace(raw,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS clean,
           CAST(len(regexp_extract_all(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(raw, '\b\d{3}-\d{4}\b')) AS INTEGER) AS n_phones
         FROM r ORDER BY doc_id""",
    "quality_sample" ->
      """WITH s AS (
           SELECT doc_id, text,
             greatest(length(text), 1)::BIGINT AS len,
             len(list_filter(regexp_split_to_array(text, '\s+'),
                             x -> len(x) > 0))::BIGINT AS tc,
             greatest(len(list_filter(regexp_split_to_array(text, '\s+'),
                                      x -> len(x) > 0)), 1)::BIGINT AS nt,
             (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::BIGINT AS p,
             len(list_filter(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                         x -> len(x) > 0),
                             x -> x IN ('the','a','of','and','to','in','is','it')))::BIGINT AS sw
           FROM documents),
         n AS (SELECT doc_id, text,
                 4 * least(tc, 100) * len * nt
                   + 300 * (len - p) * nt
                   + 300 * least(sw * 5, nt) * len AS n10,
                 1000 * len * nt AS d10
               FROM s),
         q AS (SELECT doc_id, text,
                 CAST(floor((n10 * 10000)::DOUBLE / d10::DOUBLE) AS BIGINT)
                   AS quality_e4
               FROM n)
         SELECT doc_id, quality_e4 FROM q
         WHERE substring(md5(text), 1, 2) <
               lpad(lower(to_hex(least((quality_e4 * 256) // 10000, 255))), 2, '0')
         ORDER BY doc_id""",
    "repetition_stats" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              x -> len(x) > 0) AS toks
           FROM documents),
         g AS (
           SELECT doc_id,
                  [toks[i] || ' ' || toks[i + 1]
                   for i in range(1, len(toks))] AS grams
           FROM t),
         u AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         c AS (SELECT doc_id, gram, count(*) AS cnt FROM u GROUP BY 1, 2),
         s AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
                      count(*) AS n_distinct,
                      CAST(sum(cnt) - count(*) AS BIGINT) AS n_dup,
                      max(cnt) AS top_count
               FROM c GROUP BY doc_id)
         SELECT d.doc_id,
                coalesce(s.n_grams, 0) AS n_grams,
                coalesce(s.n_distinct, 0) AS n_distinct,
                coalesce(s.n_dup, 0) AS n_dup,
                coalesce(s.top_count, 0) AS top_count
         FROM documents d LEFT JOIN s USING (doc_id)
         ORDER BY doc_id""",
    "multimodal_header" ->
      """SELECT doc_id AS media_id,
           doc_id % 4 + 1 AS format_code,
           doc_id % 512 + 16 AS width,
           (doc_id * 3) % 512 + 16 AS height,
           CAST(CASE doc_id % 4 + 1 WHEN 3 THEN 24 ELSE 8 END
                AS BIGINT) AS bit_depth
         FROM documents ORDER BY media_id""",
    "multimodal_frames" ->
      """SELECT doc_id AS media_id, unnest(range(0, 16, 3)) AS frame_idx
         FROM documents ORDER BY media_id, frame_idx""",
    // byte-exact NFC parity: DuckDB composes the same decomposed
    // suffix; md5 compares the normalized UTF-8 bytes directly
    "unicode_nfc" ->
      """WITH r AS (
           SELECT doc_id,
                  text || ' e' || chr(769) || 'o' || chr(776) ||
                    ' cafe' || chr(769) AS raw
           FROM documents)
         SELECT doc_id, CAST(length(raw) AS INTEGER) AS n_raw,
                CAST(length(nfc_normalize(raw)) AS INTEGER) AS n_nfc,
                md5(nfc_normalize(raw)) AS norm_md5
         FROM r ORDER BY doc_id""",
    "multimodal_audio" ->
      """SELECT doc_id AS media_id,
           doc_id % 2 + 1 AS format_code,
           CAST([8000,16000,22050,44100,48000][CAST(doc_id % 5 AS INTEGER) + 1]
                AS BIGINT) AS sample_rate,
           (doc_id // 2) % 2 + 1 AS channels,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 24 ELSE 16 END
                AS BIGINT) AS bits_per_sample,
           CAST([8000,16000,22050,44100,48000][CAST(doc_id % 5 AS INTEGER) + 1]
                * (doc_id % 7 + 1) AS BIGINT) AS n_frames,
           (doc_id % 7 + 1) * 1000 AS duration_ms
         FROM documents ORDER BY media_id""",
    // arithmetic recompute of the synthesize→parse identity (see
    // multimodalVideo: v1 durations carry the 2^33 offset)
    "multimodal_video" ->
      """WITH v AS (
           SELECT doc_id,
                  doc_id % 2 + 1 AS format_code,
                  (doc_id // 2) % 2 AS mvhd_version,
                  CAST([600,1000,24000,30000,90000]
                       [CAST(doc_id % 5 AS INTEGER) + 1] AS BIGINT)
                    AS timescale,
                  doc_id % 11 + 1 AS secs
           FROM documents)
         SELECT doc_id AS media_id, format_code, mvhd_version, timescale,
                CAST(timescale * secs + CASE WHEN mvhd_version = 1
                     THEN 8589934592 ELSE 0 END AS BIGINT) AS duration,
                CAST(doc_id % 3 + 1 AS BIGINT) AS n_tracks,
                CAST((timescale * secs + CASE WHEN mvhd_version = 1
                      THEN 8589934592 ELSE 0 END) * 1000 // timescale
                     AS BIGINT) AS duration_ms
         FROM v ORDER BY media_id""",
    "sql_surface" ->
      """WITH tk AS (
           SELECT doc_id, text,
                  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              x -> len(x) > 0) AS t
           FROM documents)
         SELECT doc_id,
           CAST(len(t) AS INTEGER) AS n_tokens,
           CAST(CASE WHEN len(t) >= 3
                THEN len(list_distinct([array_to_string(t[i:i+2], ' ')
                                        for i in range(1, len(t) - 1)]))
                ELSE 1 END AS INTEGER) AS n_shingles,
           CAST(len(list_distinct([substring(text, i, 3)
                for i in range(1, greatest(length(text) - 2, 1) + 1)]))
                AS INTEGER) AS n_ngrams,
           CAST(CASE WHEN contains(text, 'hash join') THEN 1 ELSE 0 END
              + CASE WHEN contains(text, 'merge sort') THEN 1 ELSE 0 END
              + CASE WHEN contains(text, 'sort') THEN 1 ELSE 0 END
                AS INTEGER) AS n_hits
         FROM tk ORDER BY doc_id""",
    "stratified_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE substring(md5(text), 1, 2) <
               CASE lang WHEN 'en' THEN '20' WHEN 'de' THEN '40'
                         WHEN 'es' THEN '80' WHEN 'fr' THEN 'ff'
                         ELSE '10' END
         ORDER BY doc_id""",
    "normalize_text" ->
      """WITH r AS (
           SELECT doc_id,
                  '<p id="d' || doc_id || '">' || chr(10) || chr(9) || ' ' ||
                    text || ' </p> <br/> ' AS raw
           FROM documents),
         c AS (
           SELECT doc_id,
                  trim(regexp_replace(regexp_replace(raw, '<[^>]*>', ' ', 'g'),
                                      '[\s\x00-\x1f]+', ' ', 'g')) AS clean
           FROM r)
         SELECT doc_id, clean, CAST(length(clean) AS BIGINT) AS n_chars
         FROM c ORDER BY doc_id""",
    "domain_stats" ->
      """WITH r AS (
           SELECT doc_id,
                  text || ' see https://host' || (doc_id % 50) ||
                    '.example.org/p/' || doc_id ||
                    ' and http://m' || (doc_id % 7) ||
                    '.example.net/q?x=' || doc_id AS raw
           FROM documents),
         u AS (
           SELECT doc_id,
                  unnest(regexp_extract_all(raw,
                    'https?://([A-Za-z0-9.-]+)', 1)) AS host
           FROM r)
         SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         FROM u GROUP BY host ORDER BY host""",
    // the oracle pins full coverage and the three flags; the vectors
    // themselves are cell-checked by the multimodal_embed oracle
    "multimodal_embed_gate" ->
      """SELECT count(*) AS n_media,
                CAST(1 AS INTEGER) AS dim_ok,
                CAST(1 AS INTEGER) AS norm_positive,
                CAST(1 AS INTEGER) AS deterministic
         FROM documents""",
    // full replay of decodeFeatures over the synthesized payload:
    // header fields arithmetically (the multimodal_header rule, body
    // offset per format), mean body intensity from the text bytes
    // (ASCII corpus: ord(char) = byte) in the kernel's division order
    // full dHash replay from the synthesis rule: body = text bytes
    // (ASCII corpus — the multimodal_meta parity), position i →
    // segment ⌊(i−1)·72/len⌋ summing char codes, 64 gradient-sign
    // bits packed into two non-negative 32-bit halves, the 4×16-bit
    // band candidate join, and the XOR-popcount Hamming verdict —
    // every signature value recomputed, not just the pairs
    // the streamed canonical dedup must converge to the batch GROUP BY
    // over the replayed signatures: keep_id = min id, n_copies = count
    "stream_dhash" ->
      s"""WITH $dhashSigCtes
         SELECT CAST(hi AS VARCHAR) || ':' || CAST(lo AS VARCHAR)
                  AS key_digest,
                min(doc_id) AS keep_id,
                count(*) AS n_copies
         FROM sig GROUP BY 1 ORDER BY key_digest""",
    "multimodal_dhash" ->
      s"""WITH $dhashSigCtes,
         s2 AS (SELECT * FROM sig WHERE NOT (hi = 0 AND lo = 0)),
         band AS (SELECT doc_id,
                    unnest([hi // 65536, hi % 65536,
                            lo // 65536, lo % 65536]) AS bval,
                    unnest([0, 1, 2, 3]) AS bidx
                  FROM s2),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM band a JOIN band b ON a.bidx = b.bidx
                    AND a.bval = b.bval AND b.doc_id > a.doc_id)
         SELECT c.id_a, c.id_b,
                CAST(bit_count(xor(sa.hi, sb.hi))
                     + bit_count(xor(sa.lo, sb.lo)) AS INTEGER) AS hamming
         FROM cand c JOIN s2 sa ON sa.doc_id = c.id_a
                     JOIN s2 sb ON sb.doc_id = c.id_b
         WHERE bit_count(xor(sa.hi, sb.hi))
               + bit_count(xor(sa.lo, sb.lo)) <= 3
         ORDER BY c.id_a, c.id_b""",
    "multimodal_meta" ->
      """WITH b AS (
           SELECT doc_id,
                  doc_id % 4 + 1 AS fmt,
                  CAST(CASE doc_id % 4 + 1 WHEN 1 THEN 26 WHEN 2 THEN 39
                       WHEN 3 THEN 54 ELSE 13 END AS BIGINT) AS hlen,
                  CAST(octet_length(encode(text)) AS BIGINT) AS tlen,
                  coalesce(list_sum([ord(substring(text, i, 1))
                    for i in range(1, length(text) + 1)]), 0) AS bsum
           FROM documents)
         SELECT doc_id AS media_id, 'image' AS kind,
           hlen + tlen AS n_bytes,
           CAST(doc_id % 512 + 16 AS INTEGER) AS width,
           CAST((doc_id * 3) % 512 + 16 AS INTEGER) AS height,
           CASE WHEN tlen = 0 THEN 0.0
                ELSE round(CAST(bsum AS DOUBLE) / tlen / 255.0, 3) END
             AS mean_val
         FROM b ORDER BY media_id""",
    // full cell-for-cell replay of embedFeatures: 4 header fields from
    // the synthesis arithmetic + the 12-band byte histogram of the
    // body (text bytes; band = byte*12 // 256, floor on both sides)
    "multimodal_embed" ->
      """WITH b AS (
           SELECT doc_id, doc_id % 4 + 1 AS fmt,
                  doc_id % 512 + 16 AS w, (doc_id * 3) % 512 + 16 AS h,
                  text
           FROM documents),
         ch AS (SELECT doc_id,
                  unnest([ord(substring(text, i, 1))
                          for i in range(1, length(text) + 1)]) AS c
                FROM b),
         bc AS (SELECT doc_id, (c * 12) // 256 AS band, count(*) AS n
                FROM ch GROUP BY 1, 2),
         bands AS (SELECT doc_id, band
                   FROM b CROSS JOIN range(0, 12) t(band)),
         hist AS (SELECT bands.doc_id,
                    string_agg(CAST(coalesce(bc.n, 0) AS VARCHAR), ','
                               ORDER BY bands.band) AS hstr
                  FROM bands LEFT JOIN bc
                    ON bands.doc_id = bc.doc_id AND bands.band = bc.band
                  GROUP BY bands.doc_id)
         SELECT b.doc_id AS media_id, CAST(16 AS INTEGER) AS dim,
                CAST(b.fmt AS VARCHAR) || ',' || b.w || ',' || b.h || ','
                  || CASE b.fmt WHEN 3 THEN 24 ELSE 8 END || ','
                  || hist.hstr AS features
         FROM b JOIN hist ON b.doc_id = hist.doc_id
         ORDER BY media_id""",
    // full replay of both the page synthesis and the extraction: the
    // boilerplate-block removal / tag strip / whitespace collapse
    // chain runs the SAME patterns under RE2 (explicit alternation,
    // inline (?s), no backreferences), so title/lengths/flags match
    "html_extract" ->
      """WITH p AS (
           SELECT doc_id, text,
             '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
             '</title><style>body{margin:0}</style></head><body>' ||
             '<nav><a href="/home">home</a> <a href="/about">about</a></nav>' ||
             '<script>track("' || CAST(doc_id AS VARCHAR) ||
             '");</script><article><p>' || text ||
             '</p></article><footer>' ||
             repeat('<a href="/x">x</a>', CAST(doc_id % 3 AS INT)) ||
             '(c) corp</footer></body></html>' AS page
           FROM documents),
         c AS (
           SELECT doc_id, page, text,
             trim(regexp_replace(regexp_replace(regexp_replace(page,
               '(?s)(<head>.*?</head>|<script[^>]*>.*?</script>|<style[^>]*>.*?</style>|<nav[^>]*>.*?</nav>|<footer[^>]*>.*?</footer>)', ' ', 'g'),
               '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS content
           FROM p)
         SELECT doc_id,
           regexp_extract(page, '<title>(.*?)</title>', 1) AS title,
           CAST(length(content) AS BIGINT) AS content_len,
           CAST(len(regexp_split_to_array(page, '<a href')) - 1 AS BIGINT)
             AS n_links,
           CAST(content = trim(regexp_replace(text, '\s+', ' ', 'g'))
                AS INTEGER) AS content_ok
         FROM c ORDER BY doc_id""",
    // the trained interpolated-KN bigram model replayed exactly: both
    // fixed-point terms floored identically (DECIMAL(38,0) DIV in
    // Spark, HUGEINT // here), so the model table hash-matches
    "kn_bigram" ->
      """WITH tok AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(text), '\W+'),
                              x -> len(x) > 0) AS tks
           FROM documents),
         bg AS (
           SELECT unnest([{'v': tks[i], 'w': tks[i+1]}
                          for i in range(1, len(tks))], recursive := true)
           FROM tok WHERE len(tks) >= 2),
         ty AS (SELECT v, w, count(*) AS c_vw FROM bg GROUP BY v, w),
         ctx AS (SELECT v, CAST(sum(c_vw) AS BIGINT) AS c_v,
                        count(*) AS n1_v
                 FROM ty GROUP BY v),
         cont AS (SELECT w, count(*) AS n1_w FROM ty GROUP BY w),
         nt AS (SELECT count(*) AS n_types FROM ty)
         SELECT ty.v, ty.w, ty.c_vw,
                CAST((CAST(4 * ty.c_vw - 3 AS HUGEINT) * 1000000000000)
                     // (CAST(ctx.c_v AS HUGEINT) * 4) AS BIGINT)
                + CAST((CAST(3 AS HUGEINT) * ctx.n1_v * cont.n1_w * 1000000000000)
                       // (CAST(ctx.c_v AS HUGEINT) * 4 * nt.n_types) AS BIGINT)
                  AS p_e12
         FROM ty JOIN ctx USING (v) JOIN cont USING (w) CROSS JOIN nt
         ORDER BY ty.v, ty.w""",
    // the kn_bigram training chain restricted to the even-id split,
    // then the held-out odd half's bigrams LEFT JOIN the model —
    // train-then-apply replayed end to end; DuckDB's HUGEINT sum cast
    // back to the engine's int64
    "kn_apply" ->
      """WITH tok AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(text), '\W+'),
                              x -> len(x) > 0) AS tks
           FROM documents WHERE doc_id % 10 = 0),
         bg AS (
           SELECT unnest([{'v': tks[i], 'w': tks[i+1]}
                          for i in range(1, len(tks))], recursive := true)
           FROM tok WHERE len(tks) >= 2),
         ty AS (SELECT v, w, count(*) AS c_vw FROM bg GROUP BY v, w),
         ctx AS (SELECT v, CAST(sum(c_vw) AS BIGINT) AS c_v,
                        count(*) AS n1_v
                 FROM ty GROUP BY v),
         cont AS (SELECT w, count(*) AS n1_w FROM ty GROUP BY w),
         nt AS (SELECT count(*) AS n_types FROM ty),
         model AS (
           SELECT ty.v, ty.w,
                  CAST((CAST(4 * ty.c_vw - 3 AS HUGEINT) * 1000000000000)
                       // (CAST(ctx.c_v AS HUGEINT) * 4) AS BIGINT)
                  + CAST((CAST(3 AS HUGEINT) * ctx.n1_v * cont.n1_w * 1000000000000)
                         // (CAST(ctx.c_v AS HUGEINT) * 4 * nt.n_types) AS BIGINT)
                    AS p_e12
           FROM ty JOIN ctx USING (v) JOIN cont USING (w) CROSS JOIN nt),
         htok AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(text), '\W+'),
                              x -> len(x) > 0) AS tks
           FROM documents WHERE doc_id % 10 <> 0),
         hbg AS (
           SELECT doc_id, unnest([{'v': tks[i], 'w': tks[i+1]}
                                  for i in range(1, len(tks))],
                                 recursive := true)
           FROM htok WHERE len(tks) >= 2),
         sc AS (SELECT hbg.doc_id, m.p_e12
                FROM hbg LEFT JOIN model m ON hbg.v = m.v AND hbg.w = m.w)
         SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                count(p_e12)::BIGINT AS n_known,
                CAST(coalesce(sum(p_e12), 0) AS BIGINT) AS score_e12
         FROM sc GROUP BY doc_id ORDER BY doc_id""",
    "lm_surprisal" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                                     x -> len(x) > 0)) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         c AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
         v AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 256),
         n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM c),
         j AS (SELECT tf.doc_id, tf.tf,
                      CASE WHEN v.token IS NULL
                                OR v.cnt <= n.n_total // 1000000
                           THEN 1000000000000
                           ELSE (n.n_total // v.cnt) * 1000000
                                + ((n.n_total % v.cnt) * 1000000) // v.cnt
                      END AS invp_e6
               FROM tf LEFT JOIN v USING (token) CROSS JOIN n)
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
                CAST(sum(tf * invp_e6) // sum(tf) AS BIGINT) AS surprisal_e6
         FROM j GROUP BY doc_id ORDER BY doc_id""",
    // full DSIR replay in the engine's fixed-point arithmetic: capped
    // inverse probabilities for target ('en') and raw LMs, ratio r_e6,
    // tf-weighted mean per doc, global top-25% rank (the engine's
    // two-level bucket prefix sum collapses to one row_number here)
    "dsir_select" ->
      """WITH tok AS (
           SELECT doc_id, lang,
                  unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                                     x -> len(x) > 0)) AS token
           FROM documents),
         tf AS (SELECT doc_id, lang, token, count(*) AS tf
                FROM tok GROUP BY 1, 2, 3),
         raw AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt_raw
                 FROM tf GROUP BY 1),
         tgt AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt_tgt
                 FROM tf WHERE lang = 'en' GROUP BY 1),
         voc AS (SELECT raw.token, cnt_raw,
                        coalesce(cnt_tgt, CAST(0 AS BIGINT)) AS cnt_tgt
                 FROM raw LEFT JOIN tgt USING (token)),
         tot AS (SELECT CAST(sum(cnt_raw) AS BIGINT) AS n_raw,
                        CAST(sum(cnt_tgt) AS BIGINT) AS n_tgt,
                        CAST(count(*) AS BIGINT) AS v
                 FROM voc),
         w AS (SELECT token,
                 CASE WHEN cnt_tgt + 1 <= (n_tgt + v) // 1000000
                      THEN 1000000000000
                      ELSE ((n_tgt + v) // (cnt_tgt + 1)) * 1000000
                           + (((n_tgt + v) % (cnt_tgt + 1)) * 1000000)
                             // (cnt_tgt + 1) END AS invp_t,
                 CASE WHEN cnt_raw + 1 <= (n_raw + v) // 1000000
                      THEN 1000000000000
                      ELSE ((n_raw + v) // (cnt_raw + 1)) * 1000000
                           + (((n_raw + v) % (cnt_raw + 1)) * 1000000)
                             // (cnt_raw + 1) END AS invp_r
               FROM voc CROSS JOIN tot),
         r AS (SELECT token,
                      CAST((invp_r * 1000000) // invp_t AS BIGINT) AS r_e6
               FROM w),
         sc0 AS (SELECT tf.doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
                        CAST(sum(tf * r_e6) // sum(tf) AS BIGINT) AS score_e6
                 FROM tf JOIN r USING (token) GROUP BY 1),
         sc AS (SELECT d.doc_id,
                       coalesce(n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
                       coalesce(score_e6, CAST(0 AS BIGINT)) AS score_e6
                FROM documents d LEFT JOIN sc0 USING (doc_id)),
         rk AS (SELECT *, row_number() OVER (ORDER BY score_e6 DESC, doc_id)
                          AS rn,
                       count(*) OVER () AS n
                FROM sc)
         SELECT doc_id, n_tokens, score_e6,
                CAST(CASE WHEN rn <= (n + 3) // 4 THEN 1 ELSE 0 END
                     AS INTEGER) AS selected
         FROM rk ORDER BY doc_id""",
    "line_dedup" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              x -> len(x) > 0) AS toks
           FROM documents),
         c AS (
           SELECT doc_id,
                  [array_to_string(toks[s : least(s + 9, len(toks))], ' ')
                   for s in range(1, len(toks) + 1, 10)] AS lines
           FROM t WHERE len(toks) > 0),
         l AS (SELECT doc_id,
                      unnest(range(0, len(lines)))::BIGINT AS line_idx,
                      unnest(lines) AS line
               FROM c),
         d AS (SELECT doc_id, line_idx, line,
                      doc_id * 100000 + line_idx AS pos, md5(line) AS dig
               FROM l),
         f AS (SELECT dig, min(pos) AS keep_pos FROM d GROUP BY dig),
         k AS (SELECT d.doc_id, d.line_idx, d.line
               FROM d JOIN f ON d.dig = f.dig AND d.pos = f.keep_pos),
         a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines_kept,
                      string_agg(line, ' ' ORDER BY line_idx) AS clean_text
               FROM k GROUP BY doc_id)
         SELECT doc.doc_id,
                CAST(coalesce(a.n_lines_kept, 0) AS BIGINT) AS n_lines_kept,
                coalesce(a.clean_text, '') AS clean_text
         FROM documents doc LEFT JOIN a USING (doc_id)
         ORDER BY doc.doc_id""",
    "fingerprint_gate" ->
      """SELECT count(*) AS n_docs,
                CAST(1 AS INTEGER) AS all_docs_covered,
                CAST(1 AS INTEGER) AS gap_within_w,
                CAST(1 AS INTEGER) AS density_in_band
         FROM documents""",
    "dataset_split" ->
      """SELECT doc_id,
                CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
                       THEN 'test'
                     WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                       THEN 'val'
                     ELSE 'train' END AS split
         FROM documents ORDER BY doc_id""",
    "pps_sample" ->
      """WITH c AS (
           SELECT doc_id, n_chars,
                  CAST(sum(n_chars) OVER (ORDER BY doc_id) AS BIGINT) AS cw
           FROM documents),
         tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS tw FROM documents)
         SELECT doc_id, n_chars, cw
         FROM c, tot
         WHERE (cw - n_chars) // (tw // 200) < cw // (tw // 200)
         ORDER BY doc_id""",
    "pack_sequences" ->
      """WITH s AS (
           SELECT doc_id,
                  CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                                       x -> len(x) > 0)) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
                      CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS seq_start
               FROM s)
         SELECT doc_id, n_tokens, seq_start,
                CAST(seq_start // 2048 AS BIGINT) AS bin_id
         FROM c ORDER BY doc_id""",
    "filter_funnel" -> {
      val sEn = markerCount(TextOps.LangMarkers(0)._2)
      val sDe = markerCount(TextOps.LangMarkers(1)._2)
      val sEs = markerCount(TextOps.LangMarkers(2)._2)
      val sFr = markerCount(TextOps.LangMarkers(3)._2)
      s"""WITH s AS (
           SELECT doc_id,
             greatest(length(text), 1)::BIGINT AS len,
             len(list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> len(x) > 0))::BIGINT AS tc,
             greatest(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                      x -> len(x) > 0)), 1)::BIGINT AS nt1,
             (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::BIGINT AS p,
             len(list_filter(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                         x -> len(x) > 0),
                             x -> x IN ('the','a','of','and','to','in','is','it')))::BIGINT AS sw,
             $sEn AS s_en, $sDe AS s_de, $sEs AS s_es, $sFr AS s_fr
           FROM documents),
         q AS (SELECT doc_id, tc,
             CASE
               WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
               WHEN s_de > s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
               WHEN s_es > s_en AND s_es > s_de AND s_es >= s_fr THEN 'es'
               WHEN s_fr > s_en AND s_fr > s_de AND s_fr > s_es THEN 'fr'
               ELSE 'und'
             END AS lp,
             CAST(floor(((4 * least(tc, 100) * len * nt1
                          + 300 * (len - p) * nt1
                          + 300 * least(sw * 5, nt1) * len) * 10000)::DOUBLE
                        / (1000 * len * nt1)::DOUBLE) AS BIGINT) AS qe4
           FROM s),
         a AS (SELECT
             CAST(count(*) AS BIGINT) AS c0,
             CAST(count(*) FILTER (WHERE tc >= 20) AS BIGINT) AS c1,
             CAST(count(*) FILTER (WHERE tc >= 20 AND lp <> 'und')
                  AS BIGINT) AS c2,
             CAST(count(*) FILTER (WHERE tc >= 20 AND lp <> 'und'
                                         AND qe4 >= 5000)
                  AS BIGINT) AS c3
           FROM q)
         SELECT CAST(0 AS INTEGER) AS stage_idx, 'total' AS stage,
                c0 AS n_kept FROM a
         UNION ALL SELECT 1, 'min_tokens', c1 FROM a
         UNION ALL SELECT 2, 'lang_known', c2 FROM a
         UNION ALL SELECT 3, 'quality', c3 FROM a
         ORDER BY stage_idx"""
    })
}
