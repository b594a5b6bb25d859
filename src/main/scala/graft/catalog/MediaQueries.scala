package graft
package catalog

import org.apache.spark.sql.functions._

import Shared._

/** Image, audio and video: container decoders, perceptual hashes,
  * cross-format re-encode near-dups and media reports.
  */
object MediaQueries {

  /** q326/q334 shared oracle — brute-force all-pairs hamming over
    * the expected image hashes, no knowledge of the banding OR the
    * wave split; ONE definition so the streaming lifecycle cannot
    * drift from the batch surface it must equal.
    */
  private val ImageNearDupSql: String =
    s"""SELECT a.name AS id_a, b.name AS id_b,
      |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS dist
      |FROM read_parquet('$FixturesDir/images_dhash_expected.parquet') a
      |JOIN read_parquet('$FixturesDir/images_dhash_expected.parquet') b
      |  ON a.name < b.name
      |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin

  /** q370/q372 shared oracle — the six-generator brute-force union
    * (the identical-oracle discipline: the streaming twin must equal
    * the one-shot capstone VERBATIM).
    */
  private val ReencodeSextSql: String =
    s"""WITH u AS (
      |  SELECT name, dhash
      |  FROM read_parquet('$FixturesDir/images_dhash_expected.parquet')
      |  UNION ALL
      |  SELECT name, dhash
      |  FROM read_parquet('$FixturesDir/images_png_expected.parquet')
      |  UNION ALL
      |  SELECT name, dhash
      |  FROM read_parquet('$FixturesDir/images_jpeg_expected.parquet')
      |  UNION ALL
      |  SELECT name, dhash
      |  FROM read_parquet('$FixturesDir/images_gif_expected.parquet')
      |  UNION ALL
      |  SELECT name, dhash
      |  FROM read_parquet('$FixturesDir/images_tiff_expected.parquet')
      |  UNION ALL
      |  SELECT name, dhash
      |  FROM read_parquet('$FixturesDir/images_webp_expected.parquet'))
      |SELECT a.name AS id_a, b.name AS id_b,
      |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS dist
      |FROM u a JOIN u b ON a.name < b.name
      |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin

  /** q362/q363 shared oracle — brute-force all-pairs hamming over
    * the UNION of the four image generators' independent expected
    * hashes (format-blind, banding-blind); ONE definition so the
    * streaming ingest cannot drift from the batch surface it must
    * equal.
    */
  private val ReencodeQuadSql: String =
    s"""WITH u AS (
      |  SELECT name, dhash
      |  FROM read_parquet('$FixturesDir/images_dhash_expected.parquet')
      |  UNION ALL
      |  SELECT name, dhash
      |  FROM read_parquet('$FixturesDir/images_png_expected.parquet')
      |  UNION ALL
      |  SELECT name, dhash
      |  FROM read_parquet('$FixturesDir/images_jpeg_expected.parquet')
      |  UNION ALL
      |  SELECT name, dhash
      |  FROM read_parquet('$FixturesDir/images_gif_expected.parquet'))
      |SELECT a.name AS id_a, b.name AS id_b,
      |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS dist
      |FROM u a JOIN u b ON a.name < b.name
      |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // ── multimodal: binaryFile scan → typed decode (mapPartitions over
    // opaque bytes — deterministic GRF1 stub codec) → narrow feature
    // projection. The decode itself is not SQL-expressible, but its
    // OUTPUT is: the oracle reads fixtures/media_expected.parquet,
    // authored from the generator formula by tools/gen_media_expected.py
    // (which also asserts the fixture bytes match the formula), so the
    // driver's check is rows+schema+hash, not rows-only. ──
    QuerySpec("q31_multimodal", (s, _) => {
      import graft.ext.Multimodal
      val files = Multimodal.asMediaFiles(Multimodal.readMedia(s, FixturesDir + "/media"))
      Multimodal.imageFeatures(Multimodal.decodeImages(files)).toDF()
        .select(
          regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("width"), col("height"), col("channels"), col("meanIntensity"))
    },
      // Expected decoded-feature rows authored from the GRF1 generator
      // formula (tools/gen_media_expected.py; provenance-checked against
      // the fixture bytes) — makes the driver's q31 check rows+schema+hash.
      s"""SELECT name, width, height, channels, meanIntensity
        |FROM read_parquet('$FixturesDir/media_expected.parquet')""".stripMargin),

    // ── perceptual image hash (Multimodal.dHashBmp — the dedup
    // family's image-modality member: exact dedup hashes bytes,
    // dHash survives brightness-class edits the way minhash survives
    // token edits). 9×8 average-pooled luma grid → 64 horizontal
    // comparisons by CROSS-MULTIPLIED integer sums (engine-exact, no
    // division); sub-grid and compressed files SKIPPED (the decoder
    // drop-don't-fail discipline — tiny_8x4/rle8_dh must not
    // surface). Oracle = tools/gen_dhash_fixtures.py's INDEPENDENT
    // python implementation of the same spec over the authored
    // formula pixels (the q178 discipline). ──
    QuerySpec("q325_image_dhash", (s, _) => {
      import graft.ext.Multimodal
      Multimodal.dHashBmp(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_dhash")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("width"), col("height"), col("dhash"))
    },
      // dHash mirror: the generator's independent python implementation
      // of the shared spec (formula pixels, never the Spark decoder)
      s"""SELECT name, width, height, dhash
        |FROM read_parquet('$FixturesDir/images_dhash_expected.parquet')"""
        .stripMargin),

    // ── image NEAR-DUP pairs (the minhash discipline on the image
    // arc): four 16-bit bands over the dHash — pigeonhole gives
    // EXACT recall at hamming ≤ 3 — band-keyed equi-join, exact
    // bit_count(xor) filter, never all-pairs. The fixture plants one
    // near pair per base pattern (single-cell +40 luma, 1-3 bits)
    // and keeps every cross-pattern distance > 3, so the pair set is
    // exactly the four planted pairs; the oracle computes ALL-pairs
    // distances over the expected hashes with no knowledge of the
    // banding (the q310 brute-force-truth discipline). ──
    QuerySpec("q326_image_neardup", (s, _) => {
      import graft.ext.Multimodal
      val hashes = Multimodal.dHashBmp(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_dhash")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("dhash"))
      Multimodal.imageNearDupPairs(hashes, "name", "dhash", maxDist = 3)
    },
      // near-dup mirror: brute-force ALL-pairs hamming over the
      // expected hashes — no knowledge of the banding
      ImageNearDupSql),

    // ── audio amplitude-envelope hash (Multimodal.aHashWav — the
    // dedup triad completed: minhash text, dHash image, aHash
    // audio). 65 amplitude windows → 64 cross-multiplied average
    // comparisons; GAIN-INVARIANT by construction (a scalar gain
    // scales both sides of every comparison); sub-window and
    // float-format files SKIPPED. Oracle = the generator's
    // independent python implementation over formula samples. ──
    QuerySpec("q327_audio_ahash", (s, _) => {
      import graft.ext.Multimodal
      Multimodal.aHashWav(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/audio_ahash")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("sampleRate").as("sample_rate"),
          col("nSamples").as("n_samples"), col("ahash"))
    },
      // aHash mirror: the generator's independent python implementation
      // of the shared envelope-hash spec over formula samples
      s"""SELECT name, sample_rate, n_samples, ahash
        |FROM read_parquet('$FixturesDir/audio_ahash_expected.parquet')"""
        .stripMargin),

    // ── audio NEAR-DUP pairs: the SAME generic banded hamming join
    // as q326 (SimSearch.hammingBandedPairs — one engine, three
    // modalities), against the q310-style brute-force all-pairs
    // oracle. The fixture plants one single-window +500 perturbation
    // per envelope pattern (1-3 bits) with cross-pattern distances
    // > 3, so the pair set is exactly the four planted pairs. ──
    QuerySpec("q328_audio_neardup", (s, _) => {
      import graft.ext.{Multimodal, SimSearch}
      val hashes = Multimodal.aHashWav(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/audio_ahash")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("ahash"))
      SimSearch.hammingBandedPairs(hashes, "name", "ahash", maxDist = 3)
    },
      // audio near-dup mirror: brute-force all-pairs hamming, no
      // knowledge of the banding
      s"""SELECT a.name AS id_a, b.name AS id_b,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS dist
        |FROM read_parquet('$FixturesDir/audio_ahash_expected.parquet') a
        |JOIN read_parquet('$FixturesDir/audio_ahash_expected.parquet') b
        |  ON a.name < b.name
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3""".stripMargin),

    // ── STREAMING perceptual-dedup ingest (the q190/q316 lifecycle
    // on the banded-hamming arc): image fingerprints arrive in two
    // waves — A carries every base pattern plus near0 (the
    // WITHIN-wave pair leg live), B the other three near copies,
    // whose ONLY partners live in wave A's stored hashes (the
    // CROSS-wave store-probe leg live, and load-bearing: the
    // StreamingSpec negative probe drops the append and the three
    // cross pairs vanish). The accumulated pair set certifies
    // against q326's one-shot all-pairs oracle VERBATIM. ──
    QuerySpec("q334_hamming_dedup_stream", (s, _) => {
      import graft.ext.Multimodal
      val hashes = Multimodal.dHashBmp(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_dhash")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("dhash"))
      graft.streaming.StreamingReports.hammingDedupIngestReplay(
        s, hashes, "name", "dhash",
        waveA = !col("name").isin("near1.bmp", "near2.bmp", "near3.bmp"),
        maxDist = 3)
    },
      // IDENTICAL SQL to q326: the streaming read->probe->append
      // lifecycle must accumulate the one-shot all-pairs set (the q186
      // identical-oracle discipline)
      ImageNearDupSql),

    // ── per-frame VIDEO perceptual hash (Multimodal.dHashFrames —
    // the modality QUAD closed: minhash text, dHash image, aHash
    // audio, per-frame dHash video). Frames arrive distributed via
    // frameSample (every 2nd frame); the cell spec is the BMP
    // dHash's verbatim (shared dHashOfGrid fold — the two modalities
    // cannot drift), gray luma = g·1000, the r=g=b case of the BMP
    // weighting. Sub-grid frames (tiny_6x4) and non-video payloads
    // (notvideo) are SKIPPED. Oracle = tools/gen_vhash_fixtures.py's
    // independent python implementation over the authored formula
    // frames (the q178/q325 discipline). ──
    QuerySpec("q331_video_vhash", (s, _) => {
      import graft.ext.Multimodal
      Multimodal.dHashFrames(Multimodal.frameSample(
          Multimodal.asMediaFiles(
            Multimodal.readMedia(s, FixturesDir + "/video_vhash")),
          everyN = 2))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("frameIndex").as("frame_index"),
          col("width"), col("height"), col("dhash"))
    },
      // video per-frame hash mirror: the generator's independent python
      // dHash over the formula frames (sampled indices only)
      s"""SELECT name, frame_index, width, height, dhash
        |FROM read_parquet('$FixturesDir/video_vhash_expected.parquet')"""
        .stripMargin),

    // ── VIDEO near-dup pairs (Multimodal.videoNearDupPairs): two
    // videos pair when ≥ τ=1/2 of their ALIGNED sampled frames are
    // within hamming ≤ 3 — frame alignment by index (the brightness/
    // re-encode edit class; time-shifts need temporal LSH, documented
    // out of scope). Per frame the banded join has pigeonhole-exact
    // recall, so matched_frames is EXACT and the oracle computes
    // brute-force all-pairs with no knowledge of the banding. The
    // fixture plants full near-copies (6/6 frames), a 7-frame partial
    // re-cut (4/6 sampled — passes τ against base AND near donor, 2/6
    // against its tail donor — fails) and a 4-frame fragment (2/6 —
    // the sub-threshold negative probe), so the threshold is exercised
    // from both sides. ──
    QuerySpec("q332_video_neardup", (s, _) => {
      import graft.ext.Multimodal
      val hashes = Multimodal.dHashFrames(Multimodal.frameSample(
          Multimodal.asMediaFiles(
            Multimodal.readMedia(s, FixturesDir + "/video_vhash")),
          everyN = 2))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("frameIndex").as("frame_index"), col("dhash"))
      Multimodal.videoNearDupPairs(hashes, "name", "frame_index", "dhash",
        maxDist = 3, tauNum = 1, tauDen = 2)
    },
      // video near-dup mirror: brute-force ALL-pairs over the expected
      // per-frame hashes — aligned frame distances, integer-crossed
      // τ=1/2 threshold, no knowledge of the banding
      s"""WITH fh AS (
        |  SELECT name, frame_index, dhash
        |  FROM read_parquet('$FixturesDir/video_vhash_expected.parquet')),
        |n AS (SELECT name, count(*) AS n FROM fh GROUP BY 1),
        |m AS (
        |  SELECT a.name AS id_a, b.name AS id_b, count(*) AS matched_frames
        |  FROM fh a JOIN fh b
        |    ON a.frame_index = b.frame_index AND a.name < b.name
        |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
        |  GROUP BY 1, 2)
        |SELECT m.id_a, m.id_b, m.matched_frames,
        |  na.n AS n_a, nb.n AS n_b
        |FROM m
        |JOIN n na ON na.name = m.id_a
        |JOIN n nb ON nb.name = m.id_b
        |WHERE m.matched_frames * 2 >= least(na.n, nb.n)""".stripMargin),

    // ── EXACTLY-ONCE perceptual-dedup ingest (q334's lifecycle
    // under the q319 batchId-manifest guard — closing the same
    // redelivery caveat on the hamming arc that round 15 closed on
    // the semantic arc): waves publish hashes under versioned dirs
    // with the manifest rename LAST, the corpus is the union of
    // COMMITTED versions, and the harness re-delivers wave A
    // verbatim under its original batchId after the drain — the
    // guard no-ops it and the pair set still equals q326's one-shot
    // brute-force oracle VERBATIM. The StreamingSpec negative probe
    // re-delivers under a FRESH batchId and the within-wave pair
    // duplicates — the guard is load-bearing. ──
    QuerySpec("q354_hamming_exactly_once", (s, _) => {
      import graft.ext.Multimodal
      val hashes = Multimodal.dHashBmp(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_dhash")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("dhash"))
      graft.streaming.StreamingReports.hammingDedupIngestIdempotentReplay(
        s, hashes, "name", "dhash",
        waveA = !col("name").isin("near1.bmp", "near2.bmp", "near3.bmp"),
        maxDist = 3)
    },
      // IDENTICAL SQL again: the guarded redelivery must be invisible
      // (the q319 discipline on the hamming arc)
      ImageNearDupSql),

    // ── REAL-format PNG perceptual hash (Multimodal.dHashPng — round
    // 17, the VERDICT r16 ask: real image corpora are PNG/JPEG, not
    // BMP): signature + chunk walk, IDAT zlib inflate, per-row
    // filter INVERSION (all five filter types load-bearing — the
    // fixture encodes row y with filter y%5), four color-type legs
    // (gray/RGB/RGBA/gray+alpha, alpha ignored), then the SHARED
    // dHashOfGrid fold. Out-of-contract files (interlaced, 16-bit,
    // palette, truncated, bomb header, sub-grid) are SKIPPED — the
    // drop-don't-fail discipline. Oracle = tools/gen_png_fixtures
    // .py's independent python decode+hash over the authored formula
    // pixels (the q178/q325 provenance discipline). ──
    QuerySpec("q357_png_dhash", (s, _) => {
      import graft.ext.Multimodal
      Multimodal.dHashPng(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_png")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("width"), col("height"), col("dhash"))
    },
      // PNG dHash mirror: the generator's independent python
      // decode+hash of the authored formula pixels (never the Spark
      // decoder — the q178/q325 provenance discipline)
      s"""SELECT name, width, height, dhash
        |FROM read_parquet('$FixturesDir/images_png_expected.parquet')"""
        .stripMargin),

    // ── CROSS-FORMAT image near-dup (q358 — the real-world payoff of
    // the shared cell spec): the BMP and PNG corpora hash through ONE
    // dHashOfGrid fold, so a PNG re-encode of a BMP is a DISTANCE-0
    // pair and the banded hamming join finds format-crossing
    // duplicates with no special casing — 8 within-format planted
    // pairs plus 16 cross-format re-encode pairs. The oracle computes
    // brute-force ALL-pairs over the UNION of the two generators'
    // independent expected hashes, with no knowledge of the banding
    // OR the formats (the q310 brute-force-truth discipline). ──
    QuerySpec("q358_crossformat_neardup", (s, _) => {
      import graft.ext.{Multimodal, SimSearch}
      val bmp = Multimodal.dHashBmp(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_dhash")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("dhash"))
      val png = Multimodal.dHashPng(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_png")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("dhash"))
      SimSearch.hammingBandedPairs(bmp.unionByName(png), "name", "dhash",
        maxDist = 3)
    },
      // cross-format near-dup mirror: brute-force ALL-pairs hamming
      // over the UNION of the two generators' expected hashes — no
      // knowledge of the banding or the formats
      s"""WITH u AS (
        |  SELECT name, dhash
        |  FROM read_parquet('$FixturesDir/images_dhash_expected.parquet')
        |  UNION ALL
        |  SELECT name, dhash
        |  FROM read_parquet('$FixturesDir/images_png_expected.parquet'))
        |SELECT a.name AS id_a, b.name AS id_b,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS dist
        |FROM u a JOIN u b ON a.name < b.name
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin),

    // ── REAL-format JPEG perceptual hash (Jpeg.dHashJpeg — round 17,
    // completing the real-corpus image pair with q357's PNG):
    // baseline sequential decode FOR REAL — marker walk, generic DHT
    // Huffman (the fixtures carry canonical-from-frequency tables, no
    // Annex-K shortcut), dequant + un-zigzag, the PINNED integer IDCT
    // (bit-exact across implementations by construction), DRI/RSTn
    // restarts, grayscale + YCbCr 4:4:4 + 4:2:0 MCU layouts, partial
    // edge blocks on non-multiple-of-8 dims — entropy-decoding ALL
    // components but IDCT-ing only Y (dHash needs luma alone).
    // PROGRESSIVE (SOF2) decoded for real since round 18 — spectral
    // selection + successive approximation, chroma AC scans skipped
    // wholesale (marker-delimited; the decode-only-what-you-hash
    // shape). Arithmetic/12-bit/16-bit-DQT/truncated/DRI-under-SOF2
    // inputs are SKIPPED. Oracle = tools/gen_jpeg_fixtures.py's independent
    // python decoder over the bytes it wrote (expected pixels are the
    // RECONSTRUCTED ones — the lossy-format version of the q178/q325
    // provenance discipline). ──
    QuerySpec("q359_jpeg_dhash", (s, _) => {
      import graft.ext.{Jpeg, Multimodal}
      Jpeg.dHashJpeg(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_jpeg")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("width"), col("height"), col("dhash"))
    },
      // JPEG dHash mirror: the generator's independent python DECODER
      // over the bytes it wrote (lossy format: expected pixels are the
      // reconstructed ones, through the same pinned integer IDCT spec)
      s"""SELECT name, width, height, dhash
        |FROM read_parquet('$FixturesDir/images_jpeg_expected.parquet')"""
        .stripMargin),

    // ── EXIF-orientation-aware JPEG dHash (round 19, verdict item 1):
    // APP1/EXIF tag 274 (values 1-8) applied to the luma grid before
    // the dHash fold, so a rotated-at-capture phone photo and its
    // upright re-encode hash at distance 0 (all eight members carry
    // one hash — generator-proven by construction: mirrors flip DCT
    // signs, transposes transpose, the symmetric quant commutes).
    // width/height are the UPRIGHT dims (exif6odd: 19×35 stored reads
    // back 35×19); hostile EXIF (corrupt TIFF, LONG-typed tag, value
    // 0, IFD1-only/thumbnail orientation) skips the TAG never the
    // file, and the FIRST APP1 wins (exifdup pins it). Oracle: the
    // generator's independent decode + independent transform. ──
    QuerySpec("q373_exif_orient", (s, _) => {
      import graft.ext.{Jpeg, Multimodal}
      Jpeg.dHashJpeg(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_jpeg")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("width"), col("height"), col("orientation"), col("dhash"))
        .filter(col("name").startsWith("exif"))
    },
      // EXIF-orientation mirror: the generator's independent decode +
      // independent tag-274 transform over the bytes it wrote; the
      // orientation column certifies the tag parse (ignore arms read 1)
      s"""SELECT name, width, height, orientation, dhash
        |FROM read_parquet('$FixturesDir/images_jpeg_expected.parquet')
        |WHERE name LIKE 'exif%'"""
        .stripMargin),

    // ── MJPEG-in-AVI per-frame hash (Avi.aviFrames — round 19,
    // verdict item 4): a REAL public video format through the
    // certified JPEG decoder. RIFF chunk walk (LIST nesting, even
    // padding, strh 'vids'/'MJPG' gate, interleaved audio chunks
    // transparent to frame indices), each sampled 00dc payload a
    // complete baseline JPEG → Jpeg.decodeGrayFrame → the existing
    // FrameRow engine. H.264/second-video-stream/garbage-frame/
    // progressive-frame/truncated files all DROP (H.264 is the
    // documented boundary: inter-frame codecs need reference-frame
    // state, not per-frame decode). Oracle: the jpeg generator's
    // independent-decode hashes, byte-provenance-asserted into the
    // container. ──
    QuerySpec("q374_avi_vhash", (s, _) => {
      import graft.ext.{Avi, Multimodal}
      Multimodal.dHashFrames(Avi.aviFrames(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/video_avi")),
          everyN = 2))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("frameIndex").as("frame_index"),
          col("width"), col("height"), col("dhash"))
    },
      // MJPEG-AVI mirror: the jpeg generator's independent-decode
      // hashes, containered byte-verbatim (gen_avi_fixtures.py asserts
      // the embedded payloads equal the certified jpg files)
      s"""SELECT name, frame_index, width, height, dhash
        |FROM read_parquet('$FixturesDir/video_avi_expected.parquet')
        |WHERE name LIKE '%.avi'"""
        .stripMargin),

    // ── cross-container cross-codec VIDEO near-dup (round 19): the
    // MJPEG capture (cam0.avi), its per-frame near edit
    // (camnear.avi), and its RAW-codec re-encode (gstub.grf — the
    // GRF1 stub arc) in ONE aligned-frame pair join. cam0↔gstub is
    // ALIGNED DISTANCE 0 (the q360 lossy-round-trip exactness on
    // moving pictures); camnear pairs within [1,3] per frame. Same
    // videoNearDupPairs engine as q332 — format-blind by
    // construction. ──
    QuerySpec("q375_video_crossarc", (s, _) => {
      import graft.ext.{Avi, Multimodal}
      val files = Multimodal.asMediaFiles(
        Multimodal.readMedia(s, FixturesDir + "/video_avi"))
      val avi = Multimodal.dHashFrames(
          Avi.aviFrames(files, everyN = 2)).toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("frameIndex").as("frame_index"), col("dhash"))
      val grf = Multimodal.dHashFrames(
          Multimodal.frameSample(files, everyN = 2)).toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("frameIndex").as("frame_index"), col("dhash"))
      Multimodal.videoNearDupPairs(avi.unionByName(grf),
        "name", "frame_index", "dhash",
        maxDist = 3, tauNum = 1, tauDen = 2)
    },
      // cross-arc video near-dup mirror: brute-force aligned all-pairs
      // over the expected per-frame hashes (q332's SQL shape)
      s"""WITH fh AS (
        |  SELECT name, frame_index, dhash
        |  FROM read_parquet('$FixturesDir/video_avi_expected.parquet')),
        |n AS (SELECT name, count(*) AS n FROM fh GROUP BY 1),
        |m AS (
        |  SELECT a.name AS id_a, b.name AS id_b, count(*) AS matched_frames
        |  FROM fh a JOIN fh b
        |    ON a.frame_index = b.frame_index AND a.name < b.name
        |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
        |  GROUP BY 1, 2)
        |SELECT m.id_a, m.id_b, m.matched_frames,
        |  na.n AS n_a, nb.n AS n_b
        |FROM m
        |JOIN n na ON na.name = m.id_a
        |JOIN n nb ON nb.name = m.id_b
        |WHERE m.matched_frames * 2 >= least(na.n, nb.n)""".stripMargin),

    // ── the RE-ENCODE dedup capstone (q360): BMP + PNG + JPEG corpora
    // hash through ONE shared cell spec, so every cross-format
    // re-encode of the same image pairs at distance 0 (the fixture
    // quant tables preserve the dHash exactly through the lossy round
    // trip — spec-pinned) and the format-blind banded join returns
    // the four 6-member re-encode clusters: C(6,2)·4 = 60 pairs,
    // with jodd.jpg isolated (quadratic pattern — the q220 spread
    // rule). Oracle: brute-force all-pairs over the UNION of the
    // THREE generators' independent expected hashes. ──
    QuerySpec("q360_reencode_triple", (s, _) => {
      import graft.ext.{Jpeg, Multimodal, SimSearch}
      def named(df: org.apache.spark.sql.DataFrame) =
        df.select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("dhash"))
      val bmp = named(Multimodal.dHashBmp(Multimodal.asMediaFiles(
        Multimodal.readMedia(s, FixturesDir + "/images_dhash"))).toDF())
      val png = named(Multimodal.dHashPng(Multimodal.asMediaFiles(
        Multimodal.readMedia(s, FixturesDir + "/images_png"))).toDF())
      val jpg = named(Jpeg.dHashJpeg(Multimodal.asMediaFiles(
        Multimodal.readMedia(s, FixturesDir + "/images_jpeg"))).toDF())
      SimSearch.hammingBandedPairs(
        bmp.unionByName(png).unionByName(jpg), "name", "dhash",
        maxDist = 3)
    },
      // re-encode capstone mirror: brute-force ALL-pairs over the union
      // of the THREE generators' expected hashes — format-blind
      s"""WITH u AS (
        |  SELECT name, dhash
        |  FROM read_parquet('$FixturesDir/images_dhash_expected.parquet')
        |  UNION ALL
        |  SELECT name, dhash
        |  FROM read_parquet('$FixturesDir/images_png_expected.parquet')
        |  UNION ALL
        |  SELECT name, dhash
        |  FROM read_parquet('$FixturesDir/images_jpeg_expected.parquet'))
        |SELECT a.name AS id_a, b.name AS id_b,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS dist
        |FROM u a JOIN u b ON a.name < b.name
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin),

    // ── REAL-format GIF perceptual hash (Gif.dHashGif — round 17,
    // the legacy image QUAD closed: BMP, PNG, JPEG, GIF): 87a/89a
    // first-frame decode — extension blocks skipped sub-block-wise,
    // LSB-first LZW with the canonical width rule and the KwKwK
    // case, PALETTE application (base3's REVERSED local table with
    // inverted indices makes pass-through impossible), INTERLACED
    // four-pass row order, and animation hashing its POSTER frame.
    // Out-of-contract (bad magic, truncated LZW, offset first frame,
    // no color table, sub-grid) SKIPPED. Oracle = tools/
    // gen_gif_fixtures.py's independent decode (lossless — the
    // formula pixels, certified through palette + LZW + interlace
    // provenance). ──
    QuerySpec("q361_gif_dhash", (s, _) => {
      import graft.ext.{Gif, Multimodal}
      Gif.dHashGif(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_gif")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("width"), col("height"), col("dhash"))
    },
      // GIF dHash mirror: the generator's independent decode of the
      // formula pixels (lossless — palette + LZW + interlace provenance)
      s"""SELECT name, width, height, dhash
        |FROM read_parquet('$FixturesDir/images_gif_expected.parquet')"""
        .stripMargin),

    // ── the RE-ENCODE dedup QUAD capstone (q362): all four legacy
    // image formats through ONE format-blind banded hamming join —
    // every cross-format re-encode of the same image pairs within
    // the exact-recall band, giving four 10-member re-encode clusters
    // (C(10,2)·4 = 180 pairs — the palette-PNG and progressive-JPEG
    // members joined in round 18) plus the jodd/progodd pair, with
    // ganim.gif isolated
    // (quadratic patterns). Oracle: brute-force all-pairs over the
    // UNION of the FOUR generators' independent expected hashes. ──
    QuerySpec("q362_reencode_quad", (s, _) => {
      import graft.ext.{Gif, Jpeg, Multimodal, SimSearch}
      def named(df: org.apache.spark.sql.DataFrame) =
        df.select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("dhash"))
      val bmp = named(Multimodal.dHashBmp(Multimodal.asMediaFiles(
        Multimodal.readMedia(s, FixturesDir + "/images_dhash"))).toDF())
      val png = named(Multimodal.dHashPng(Multimodal.asMediaFiles(
        Multimodal.readMedia(s, FixturesDir + "/images_png"))).toDF())
      val jpg = named(Jpeg.dHashJpeg(Multimodal.asMediaFiles(
        Multimodal.readMedia(s, FixturesDir + "/images_jpeg"))).toDF())
      val gif = named(Gif.dHashGif(Multimodal.asMediaFiles(
        Multimodal.readMedia(s, FixturesDir + "/images_gif"))).toDF())
      SimSearch.hammingBandedPairs(
        bmp.unionByName(png).unionByName(jpg).unionByName(gif),
        "name", "dhash", maxDist = 3)
    },
      // re-encode QUAD mirror: brute-force all-pairs over the union of
      // the FOUR generators' expected hashes — format-blind
      ReencodeQuadSql),

    // ── STREAMING re-encode ingest (q363 — the q334 lifecycle on the
    // cross-format arc, the production shape of re-encode dedup): the
    // ORIGINALS (every .bmp) land first and seed the store; the
    // re-encodes (.png/.jpg/.gif) arrive on a LATER wave whose
    // within-wave pairs cover only each other — their pairs against
    // the originals exist ONLY through the store probe
    // (hammingBandedPairsAgainst), so the cross-wave leg is
    // load-bearing by construction. The accumulated set must equal
    // q362's one-shot brute-force oracle VERBATIM (the shared
    // ReencodeQuadSql — the identical-oracle discipline's fifth
    // hamming consumer). ──
    // ── REAL-format TIFF perceptual hash (Multimodal.dHashTiff —
    // round 17, the scanned-document format, closing a FIVE-format
    // image family): classic TIFF in BOTH byte orders, first-IFD
    // walk, multi-strip reassembly (StripOffsets/ByteCounts/
    // RowsPerStrip, inline or pointed), RGB chunky, and the
    // PhotometricInterpretation applied for real — WhiteIsZero
    // samples are inverted before the luma (pass-through would hash
    // the negative; the fixture plants exactly that trap). Any
    // compression, 16-bit, planar-2, tiled, or strip-past-EOF input
    // skips. Oracle = tools/gen_tiff_fixtures.py's independent
    // decode (lossless provenance, both byte orders). ──
    QuerySpec("q367_tiff_dhash", (s, _) => {
      import graft.ext.Multimodal
      Multimodal.dHashTiff(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_tiff")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("width"), col("height"), col("dhash"))
    },
      // TIFF dHash mirror: the generator's independent decode (both
      // byte orders, strips, photometric), lossless provenance
      s"""SELECT name, width, height, dhash
        |FROM read_parquet('$FixturesDir/images_tiff_expected.parquet')"""
        .stripMargin),

    // ── the FIVE-format re-encode capstone (q368): BMP + PNG + JPEG
    // + GIF + TIFF through ONE format-blind banded join — four
    // 13-member re-encode clusters, C(13,2)·4 = 312 pairs (the
    // palette-PNG, progressive-JPEG and LZW-TIFF members joined in
    // round 18) plus the jodd/progodd pair and the lzwnoise
    // singleton (joins nothing), vs the
    // brute-force oracle over the UNION of the five generators'
    // expected hashes (q362's quad plus the TIFF leg; the quad's own
    // oracle stays untouched — the identical-oracle discipline works
    // forward, never by rewriting certified history). ──
    QuerySpec("q368_reencode_quint", (s, _) => {
      import graft.ext.{Gif, Jpeg, Multimodal, SimSearch}
      def named(df: org.apache.spark.sql.DataFrame) =
        df.select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("dhash"))
      val u = named(Multimodal.dHashBmp(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_dhash"))).toDF())
        .unionByName(named(Multimodal.dHashPng(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_png"))).toDF()))
        .unionByName(named(Jpeg.dHashJpeg(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_jpeg"))).toDF()))
        .unionByName(named(Gif.dHashGif(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_gif"))).toDF()))
        .unionByName(named(Multimodal.dHashTiff(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_tiff"))).toDF()))
      SimSearch.hammingBandedPairs(u, "name", "dhash", maxDist = 3)
    },
      // five-format re-encode mirror: brute-force all-pairs over the
      // union of ALL FIVE generators' expected hashes
      s"""WITH u AS (
        |  SELECT name, dhash
        |  FROM read_parquet('$FixturesDir/images_dhash_expected.parquet')
        |  UNION ALL
        |  SELECT name, dhash
        |  FROM read_parquet('$FixturesDir/images_png_expected.parquet')
        |  UNION ALL
        |  SELECT name, dhash
        |  FROM read_parquet('$FixturesDir/images_jpeg_expected.parquet')
        |  UNION ALL
        |  SELECT name, dhash
        |  FROM read_parquet('$FixturesDir/images_gif_expected.parquet')
        |  UNION ALL
        |  SELECT name, dhash
        |  FROM read_parquet('$FixturesDir/images_tiff_expected.parquet'))
        |SELECT a.name AS id_a, b.name AS id_b,
        |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS dist
        |FROM u a JOIN u b ON a.name < b.name
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin),

    // ── REAL-format WebP-LOSSLESS (VP8L) perceptual hash
    // (Vp8l.dHashWebp — round 18, the SIXTH image format): RIFF walk
    // to the VP8L chunk, LSB-first bits, canonical prefix codes in
    // both the SIMPLE and NORMAL (code-length-coded, 16/17/18 RLE)
    // forms, the LZ77 backref stream with the 120-entry 2D distance
    // map AND raw distances, the color cache (hash 0x1E35A7BD,
    // updated on every emitted pixel), and the SUBTRACT-GREEN
    // transform applied for real. Lossy VP8/VP8X, other transforms,
    // meta prefix images, cold-cache hits, truncation all SKIP.
    // Oracle = tools/gen_webp_fixtures.py's independent decode of
    // the bytes it wrote (lossless provenance). ──
    QuerySpec("q369_webp_dhash", (s, _) => {
      import graft.ext.{Multimodal, Vp8l}
      Vp8l.dHashWebp(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_webp")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("width"), col("height"), col("dhash"))
    },
      // WebP/VP8L dHash mirror: the generator's independent decode of
      // the bytes it wrote (lossless provenance)
      s"""SELECT name, width, height, dhash
        |FROM read_parquet('$FixturesDir/images_webp_expected.parquet')"""
        .stripMargin),

    // ── the SIX-format re-encode capstone (q370): q368's quint plus
    // the VP8L corpus through ONE format-blind banded join — webp_k
    // joins the base side and webpnear_k the near side of cluster k,
    // giving four 15-member clusters, C(15,2)·4 = 420 pairs, plus
    // the jodd/progodd pair, vs the brute-force oracle over the
    // UNION of the six generators' expected hashes (q368's own
    // oracle stays untouched — the identical-oracle discipline
    // works forward). ──
    QuerySpec("q370_reencode_sext", (s, _) => {
      import graft.ext.{Gif, Jpeg, Multimodal, SimSearch, Vp8l}
      def named(df: org.apache.spark.sql.DataFrame) =
        df.select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("dhash"))
      val u = named(Multimodal.dHashBmp(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_dhash"))).toDF())
        .unionByName(named(Multimodal.dHashPng(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_png"))).toDF()))
        .unionByName(named(Jpeg.dHashJpeg(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_jpeg"))).toDF()))
        .unionByName(named(Gif.dHashGif(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_gif"))).toDF()))
        .unionByName(named(Multimodal.dHashTiff(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_tiff"))).toDF()))
        .unionByName(named(Vp8l.dHashWebp(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_webp"))).toDF()))
      SimSearch.hammingBandedPairs(u, "name", "dhash", maxDist = 3)
    },
      // six-format re-encode mirror: brute-force all-pairs over the
      // union of ALL SIX generators' expected hashes, format-blind;
      // IDENTICAL SQL for the streaming ingest twin (the q363
      // discipline: the store-probe lifecycle must be invisible)
      ReencodeSextSql),

    // ── STREAMING six-format re-encode ingest (q372 — q363's
    // lifecycle on the sext arc): the BMP originals land first and
    // seed the store; all FIVE re-encode formats (png/jpg/gif/tif/
    // webp) arrive on a later wave whose within-wave pairs cover
    // only each other — their pairs against the originals exist
    // ONLY through the store probe. Accumulated set == q370's
    // one-shot oracle VERBATIM (shared ReencodeSextSql). ──
    QuerySpec("q372_reencode_sext_stream", (s, _) => {
      import graft.ext.{Gif, Jpeg, Multimodal, Vp8l}
      def named(df: org.apache.spark.sql.DataFrame) =
        df.select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("dhash"))
      val all = named(Multimodal.dHashBmp(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_dhash"))).toDF())
        .unionByName(named(Multimodal.dHashPng(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_png"))).toDF()))
        .unionByName(named(Jpeg.dHashJpeg(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_jpeg"))).toDF()))
        .unionByName(named(Gif.dHashGif(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_gif"))).toDF()))
        .unionByName(named(Multimodal.dHashTiff(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_tiff"))).toDF()))
        .unionByName(named(Vp8l.dHashWebp(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_webp"))).toDF()))
      graft.streaming.StreamingReports.hammingDedupIngestReplay(
        s, all, "name", "dhash",
        waveA = col("name").endsWith(".bmp"), maxDist = 3)
    },
      ReencodeSextSql),

    // ── REAL-format AIFF amplitude hash (Multimodal.aHashAiff —
    // round 17, the audio arc's second container): big-endian IFF
    // chunk walk, the 80-bit extended-float sample rate parsed and
    // gated to positive integers, SIGNED 8-bit + 16-bit BE PCM legs,
    // the SHARED 65-window envelope spec — so an AIFF re-encode of a
    // WAV hashes IDENTICALLY (q366's premise). Hostile/truncated/
    // sub-window inputs skip. Oracle = tools/gen_audio_formats.py's
    // independent implementation over the formula samples (lossless
    // — the q325 provenance discipline), provenance-re-parsed. ──
    QuerySpec("q364_aiff_ahash", (s, _) => {
      import graft.ext.Multimodal
      Multimodal.aHashAiff(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/audio_formats")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("sampleRate").as("sample_rate"),
          col("nSamples").as("n_samples"), col("ahash"))
    },
      // AIFF aHash mirror: the generator's independent implementation
      // over the formula samples (lossless), provenance-re-parsed
      s"""SELECT name, sample_rate, n_samples, ahash
        |FROM read_parquet('$FixturesDir/audio_formats_expected.parquet')
        |WHERE name LIKE '%.aif'""".stripMargin),

    // ── Sun .au + G.711 μ-LAW AND A-LAW (Multimodal.aHashAu — the
    // audio arc's LOSSY-CODEC leg, q359's JPEG discipline on sound):
    // encoding 1 expands μ-law and encoding 27 A-law (round 18) with
    // the standard formulas, each certified against the DECODED
    // samples of its OWN bytes (the generator implements both
    // expansions independently); encodings 2/3 are 8/16-bit linear;
    // ADPCM/float encodings and sub-window payloads skip; dataSize
    // −1 reads to EOF per spec. The fixtures' geometric envelopes
    // keep every inter-window gap ≥ 15%, so neither codec's
    // half-step can flip a comparison — the planted [1,3] geometry
    // survives BOTH codecs, and the A-law re-encodes land
    // window-for-window with their μ-law siblings (cross-codec
    // distance 0, generator-asserted). ──
    QuerySpec("q365_au_ahash", (s, _) => {
      import graft.ext.Multimodal
      Multimodal.aHashAu(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/audio_formats")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("sampleRate").as("sample_rate"),
          col("nSamples").as("n_samples"), col("ahash"))
    },
      // AU aHash mirror: expected hashes computed from the generator's
      // independent μ-law DECODE of the bytes it wrote (lossy-format
      // provenance) + the linear leg
      s"""SELECT name, sample_rate, n_samples, ahash
        |FROM read_parquet('$FixturesDir/audio_formats_expected.parquet')
        |WHERE name LIKE '%.au'""".stripMargin),

    // ── the AUDIO re-encode capstone (q366 — q362 on the sound arc):
    // WAV + AIFF + AU corpora hash through ONE shared window spec, so
    // the lossless AIFF re-encodes join their WAV originals at
    // distance 0 (four 4-member clusters) while the telephony arc's
    // planted pairs surface beside them — the μ-law AND A-law
    // re-encodes of each envelope land in ONE 4-member cluster per
    // pattern (cross-CODEC distance 0, round 18) — one format-blind
    // banded hamming join, certified against a brute-force oracle
    // over the UNION of the two generators' expected hashes. ──
    // (round 18: the FLAC leg joined the union — cbase/cnear are
    // lossless re-encodes of the WAV formulas, so the wavfam
    // clusters grow to 6 members; the shared expected parquet
    // carries the new rows and the oracle SQL is UNCHANGED)
    QuerySpec("q366_audio_reencode", (s, _) => {
      import graft.ext.{Flac, Multimodal, SimSearch}
      def named(df: org.apache.spark.sql.DataFrame) =
        df.select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("ahash"))
      val wav = named(Multimodal.aHashWav(Multimodal.asMediaFiles(
        Multimodal.readMedia(s, FixturesDir + "/audio_ahash"))).toDF())
      val fmts = Multimodal.asMediaFiles(
        Multimodal.readMedia(s, FixturesDir + "/audio_formats"))
      val aif = named(Multimodal.aHashAiff(fmts).toDF())
      val au = named(Multimodal.aHashAu(fmts).toDF())
      val flc = named(Flac.aHashFlac(fmts).toDF())
      SimSearch.hammingBandedPairs(
        wav.unionByName(aif).unionByName(au).unionByName(flc),
        "name", "ahash", maxDist = 3)
    },
      // audio re-encode mirror: brute-force all-pairs over the union of
      // the WAV and formats generators' expected hashes — format-blind
      s"""WITH u AS (
        |  SELECT name, ahash
        |  FROM read_parquet('$FixturesDir/audio_ahash_expected.parquet')
        |  UNION ALL
        |  SELECT name, ahash
        |  FROM read_parquet('$FixturesDir/audio_formats_expected.parquet'))
        |SELECT a.name AS id_a, b.name AS id_b,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS dist
        |FROM u a JOIN u b ON a.name < b.name
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3""".stripMargin),

    // ── REAL-format FLAC amplitude hash (Flac.aHashFlac — round 18,
    // the audio arc's lossless-CODEC leg): STREAMINFO walk, frame
    // sync + UTF-8 frame numbers, CONSTANT/VERBATIM/FIXED(0-4)/LPC
    // subframes, rice partitions WITH the escape hatch, and BOTH
    // CRCs verified (a flipped byte is a detected drop, never a
    // silent hash shift). Lossless: decoded samples equal the
    // formula samples exactly (generator-asserted provenance), so
    // cbase/cnear join the WAV clusters at distance 0. Multi-channel,
    // non-16-bit, variable-blocksize, wasted-bits, rice-method-1,
    // bad-CRC, truncated and trailing-garbage inputs all SKIP. MP3
    // stays a documented boundary (see Flac.scala's scaladoc: the
    // ISO 11172-3 table surface defeats fixture-scale
    // certification; no decoder in the dependency surface). ──
    QuerySpec("q371_flac_ahash", (s, _) => {
      import graft.ext.{Flac, Multimodal}
      Flac.aHashFlac(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/audio_formats")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("sampleRate").as("sample_rate"),
          col("nSamples").as("n_samples"), col("ahash"))
    },
      // FLAC aHash mirror: lossless provenance — the generator asserts
      // its independent decoder reproduces the formula samples exactly
      s"""SELECT name, sample_rate, n_samples, ahash
        |FROM read_parquet('$FixturesDir/audio_formats_expected.parquet')
        |WHERE name LIKE '%.flac'""".stripMargin),

    QuerySpec("q363_reencode_ingest_stream", (s, _) => {
      import graft.ext.{Gif, Jpeg, Multimodal}
      def named(df: org.apache.spark.sql.DataFrame) =
        df.select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("dhash"))
      val all = named(Multimodal.dHashBmp(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_dhash"))).toDF())
        .unionByName(named(Multimodal.dHashPng(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_png"))).toDF()))
        .unionByName(named(Jpeg.dHashJpeg(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_jpeg"))).toDF()))
        .unionByName(named(Gif.dHashGif(Multimodal.asMediaFiles(
          Multimodal.readMedia(s, FixturesDir + "/images_gif"))).toDF()))
      graft.streaming.StreamingReports.hammingDedupIngestReplay(
        s, all, "name", "dhash",
        waveA = col("name").endsWith(".bmp"), maxDist = 3)
    },
      // IDENTICAL SQL: the streaming ingest must accumulate the same
      // pair set — originals first, re-encodes on a later wave found
      // through the store (the q186/q334 identical-oracle discipline)
      ReencodeQuadSql),

    // ── TIME-SHIFTED video copy pairs (Multimodal.videoSeqCopyPairs
    // — the temporal extension q332's scaladoc names: aligned-frame
    // hamming is blind to shifts, shingled frame-hash SEQUENCES are
    // blind to per-frame edits; the two are complements like exact
    // dedup and minhash on the text arc). k=3 shingles over sampled
    // hashes as raw ':'-joined strings (the q222 raw-gram rule),
    // pairs at ≥ 2 shared shingles. The fixture plants a +2-frame
    // shifted copy (3 shared shingles), a +4-frame shift landing
    // EXACTLY on the minShared boundary (2), and a same-family
    // video whose sampled hashes never run 3 consecutive (0 — the
    // negative probe); oracle = the generator's independent python
    // hashes + a window-shingled SQL mirror with no knowledge of
    // the Spark plan. ──
    QuerySpec("q335_video_seq_copies", (s, _) => {
      import graft.ext.Multimodal
      val hashes = Multimodal.dHashFrames(Multimodal.frameSample(
          Multimodal.asMediaFiles(
            Multimodal.readMedia(s, FixturesDir + "/video_seq")),
          everyN = 2))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("frameIndex").as("frame_index"), col("dhash"))
      Multimodal.videoSeqCopyPairs(hashes, "name", "frame_index", "dhash",
        k = 3, minShared = 2L)
    },
      // time-shifted copy mirror: window-shingled sequences over the
      // generator's independent hashes; raw ':'-joined keys, DISTINCT
      // per video, threshold in HAVING — no knowledge of the Spark plan
      s"""WITH fh AS (
        |  SELECT name, frame_index, dhash
        |  FROM read_parquet('$FixturesDir/video_seq_expected.parquet')),
        |sq AS (
        |  SELECT name,
        |    CAST(dhash AS VARCHAR) || ':' ||
        |    CAST(lead(dhash, 1) OVER w AS VARCHAR) || ':' ||
        |    CAST(lead(dhash, 2) OVER w AS VARCHAR) AS shingle
        |  FROM fh WINDOW w AS (PARTITION BY name ORDER BY frame_index)
        |  QUALIFY lead(dhash, 2) OVER w IS NOT NULL),
        |sh AS (SELECT DISTINCT name, shingle FROM sq)
        |SELECT a.name AS id_a, b.name AS id_b,
        |  CAST(count(*) AS BIGINT) AS shared_shingles
        |FROM sh a JOIN sh b
        |  ON a.shingle = b.shingle AND a.name < b.name
        |GROUP BY 1, 2
        |HAVING count(*) >= 2""".stripMargin),

    // ── REAL-format multimodal decode: RIFF/WAVE PCM chunk-walk parser
    // over a binaryFile scan (q31's fixture-oracle discipline — expected
    // rows authored from the sample generator formula by
    // tools/gen_wav_fixtures.py, provenance-checked against the bytes).
    // The fixture dir deliberately contains a float-format and a
    // truncated file: the decoder must SKIP both, so the row set itself
    // certifies the hostile-input discipline. Integer-exact features
    // (sum|amp|, peak|amp|) so the oracle check is rows+schema+hash. ──
    QuerySpec("q170_wav_decode", (s, _) => {
      import graft.ext.Multimodal
      Multimodal.decodeWav(
          Multimodal.asMediaFiles(Multimodal.readMedia(s, FixturesDir + "/audio")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("sampleRate").as("sample_rate"), col("channels"),
          col("bitsPerSample").as("bits"), col("nFrames").as("n_frames"),
          col("sumAbs").as("sum_abs"), col("peakAbs").as("peak_abs"))
    },
      // Expected decoded-WAV rows authored from the generator formula
      // (tools/gen_wav_fixtures.py; provenance-checked) — the adversarial
      // files' ABSENCE from this parquet is part of the contract.
      s"""SELECT name, sample_rate, channels, bits, n_frames, sum_abs, peak_abs
        |FROM read_parquet('$FixturesDir/audio_expected.parquet')""".stripMargin),

    // ── REAL image decode (q170's discipline on the image modality):
    // uncompressed BMP — bottom-up AND top-down row order, 4-byte row
    // stride padding, 24/32bpp. The adversarial files (RLE-compressed,
    // truncated pixel array) must be ABSENT from the result; the
    // orientation-sensitive top_row_sum_r feature fails if storage row
    // order is mishandled. Oracle = the formula-authored expected
    // parquet (tools/gen_bmp_fixtures.py). ──
    QuerySpec("q178_bmp_decode", (s, _) => {
      import graft.ext.Multimodal
      Multimodal.decodeBmp(
          Multimodal.asMediaFiles(Multimodal.readMedia(s, FixturesDir + "/images")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("width"), col("height"), col("bits"), col("nPx").as("n_px"),
          col("sumR").as("sum_r"), col("sumG").as("sum_g"),
          col("sumB").as("sum_b"),
          col("peakLumaMilli").as("peak_luma_milli"),
          col("topRowSumR").as("top_row_sum_r"))
    },
      // Expected decoded-BMP rows authored from the pixel generator
      // formula (tools/gen_bmp_fixtures.py; provenance-checked) — the
      // adversarial files' ABSENCE from this parquet is part of the
      // contract, and top_row_sum_r pins bottom-up/top-down row order.
      s"""SELECT name, width, height, bits, n_px, sum_r, sum_g, sum_b,
        |  peak_luma_milli, top_row_sum_r
        |FROM read_parquet('$FixturesDir/images_expected.parquet')""".stripMargin),

    // ── image COMPOSITION (q172's shape on the image modality):
    // decoded BMP features broadcast-joined to a camera dim,
    // per-(camera, day) rollup. The dim lists the RLE and truncated
    // files too — they never decode, so the inner join drops them
    // (cam-b's day-3 row must not exist): the decoder's hostile-input
    // discipline composes downstream. brightness_ppm is all-integer:
    // Σ(299r+587g+114b) · 1e6 div (Σpx · 255000). ──
    QuerySpec("q179_image_report", (s, _) => {
      import graft.ext.Multimodal
      val feats = Multimodal.decodeBmp(
          Multimodal.asMediaFiles(Multimodal.readMedia(s, FixturesDir + "/images")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("nPx"), col("sumR"), col("sumG"), col("sumB"),
          col("peakLumaMilli"))
      val cams = s.read.json(FixturesDir + "/image_cameras.json")
      feats.join(cams, Seq("name"))
        .groupBy(col("camera"), col("capturedDate").as("captured_date"))
        .agg(count(lit(1)).as("n_images"),
          sum(col("nPx")).as("total_px"),
          expr("sum(sumR*299 + sumG*587 + sumB*114) * 1000000 div (sum(nPx) * 255000)")
            .as("brightness_ppm"),
          max(col("peakLumaMilli")).as("peak_luma_milli"))
    },
      s"""SELECT c.camera, CAST(c.capturedDate AS VARCHAR) AS captured_date,
        |  COUNT(*) AS n_images,
        |  CAST(SUM(i.n_px) AS BIGINT) AS total_px,
        |  CAST(SUM(i.sum_r*299 + i.sum_g*587 + i.sum_b*114) * 1000000
        |    // (SUM(i.n_px) * 255000) AS BIGINT) AS brightness_ppm,
        |  MAX(i.peak_luma_milli) AS peak_luma_milli
        |FROM read_parquet('$FixturesDir/images_expected.parquet') i
        |JOIN read_json_auto('$FixturesDir/image_cameras.json') c
        |  ON i.name = c.name
        |GROUP BY 1, 2""".stripMargin),

    // ── REAL video-container decode (the triad's third leg after
    // q170 WAV and q178 BMP): ISO-BMFF box-tree metadata — largesize
    // mdat, size==0, mvhd/tkhd v0 AND v1, 16.16 track dims; the
    // truncated-moov and non-BMFF files must be ABSENT. Codec payloads
    // are never touched (mdat skipped) — the O(box-tree) metadata scan
    // a 100-TB video corpus profiling pass needs. Oracle = the
    // spec-authored expected parquet (tools/gen_mp4_fixtures.py). ──
    QuerySpec("q184_mp4_meta", (s, _) => {
      import graft.ext.Multimodal
      Multimodal.decodeMp4(
          Multimodal.asMediaFiles(Multimodal.readMedia(s, FixturesDir + "/video")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("brand"), col("timescale").cast("int").as("timescale"),
          col("durationUnits").as("duration_units"),
          col("durationMs").as("duration_ms"),
          col("nTracks").as("n_tracks"), col("width"), col("height"))
    },
      // Expected decoded-MP4 rows authored from the generator spec
      // (tools/gen_mp4_fixtures.py; provenance-checked) — the truncated
      // and non-BMFF files' ABSENCE is part of the contract.
      s"""SELECT name, brand, timescale, duration_units, duration_ms,
        |  n_tracks, width, height
        |FROM read_parquet('$FixturesDir/video_expected.parquet')""".stripMargin),

    // ── multimodal COMPOSITION (round-8 advice #5): decoded audio
    // features flow through the relational surface — broadcast join to a
    // speaker dim, per-(speaker, day) aggregate; the platform_usage
    // shape over audio. The dim deliberately lists the float-format and
    // truncated files too: they never decode, so the inner join drops
    // them — certifying that the decoder's hostile-input discipline
    // COMPOSES downstream (bob's day-3 row must not exist). Duration is
    // integer math (frames·1000 div rate) so the oracle check stays
    // rows+schema+hash. Oracle side joins the same dim to the
    // formula-authored audio_expected.parquet truth. ──
    QuerySpec("q172_audio_report", (s, _) => {
      import graft.ext.Multimodal
      val feats = Multimodal.decodeWav(
          Multimodal.asMediaFiles(Multimodal.readMedia(s, FixturesDir + "/audio")))
        .toDF()
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("name"),
          col("sampleRate"), col("nFrames"), col("sumAbs"), col("peakAbs"))
      val speakers = s.read.json(FixturesDir + "/audio_speakers.json")
      feats.join(speakers, Seq("name"))
        .groupBy(col("speaker"), col("recordedDate").as("recorded_date"))
        .agg(count(lit(1)).as("n_clips"),
          sum(col("nFrames")).as("total_frames"),
          sum(expr("nFrames * 1000 div sampleRate")).as("total_ms"),
          max(col("peakAbs")).as("peak_abs"),
          sum(col("sumAbs")).as("sum_abs_total"))
    },
      // The dim lists the hostile files too; the join against the
      // formula-authored truth (which omits them) drops them — the same
      // drop the Spark side gets from decodeWav's parser returning None.
      s"""SELECT s.speaker, CAST(s.recordedDate AS VARCHAR) AS recorded_date,
        |  COUNT(*) AS n_clips,
        |  CAST(SUM(a.n_frames) AS BIGINT) AS total_frames,
        |  CAST(SUM(a.n_frames * 1000 // a.sample_rate) AS BIGINT) AS total_ms,
        |  MAX(a.peak_abs) AS peak_abs,
        |  CAST(SUM(a.sum_abs) AS BIGINT) AS sum_abs_total
        |FROM read_parquet('$FixturesDir/audio_expected.parquet') a
        |JOIN read_json_auto('$FixturesDir/audio_speakers.json') s
        |  ON a.name = s.name
        |GROUP BY 1, 2""".stripMargin)
  )
}
