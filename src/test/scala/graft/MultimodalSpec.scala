package graft

import org.apache.spark.sql.functions._

import graft.ext.Multimodal

/** Multimodal plumbing: binaryFile ingestion, GRF1 decode, features,
  * resize, frame sampling — exact values pinned against the generator
  * formula used to author fixtures/media.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media = Multimodal.asMediaFiles(
    Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/media"))

  test("binaryFile source: one row per file, content is binary") {
    val df = Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/media")
    assert(df.count() == 5)
    assert(df.schema("content").dataType.typeName == "binary")
  }

  test("decodeImages: only image payloads, correct dims") {
    val dims = Multimodal.decodeImages(media)
      .select(regexp_extract($"path", "[^/]+$", 0), $"width", $"height", $"channels")
      .as[(String, Int, Int, Int)].collect().toSet
    assert(dims == Set(
      ("img_8x8x3.grf", 8, 8, 3), ("img_16x8x3.grf", 16, 8, 3), ("img_4x4x1.grf", 4, 4, 1)))
  }

  test("imageFeatures: mean matches the fixture generator formula") {
    // pixel(x, y, ch) = (x*7 + y*13 + ch*31) % 256
    val expected = (for (y <- 0 until 8; x <- 0 until 8; c <- 0 until 3)
      yield (x * 7 + y * 13 + c * 31) % 256).sum.toDouble / (8 * 8 * 3)
    val got = Multimodal.imageFeatures(Multimodal.decodeImages(media))
      .filter($"path".endsWith("img_8x8x3.grf"))
      .select($"meanIntensity").as[Double].head()
    assert(got == expected)
    val hist = Multimodal.imageFeatures(Multimodal.decodeImages(media))
      .filter($"path".endsWith("img_8x8x3.grf"))
      .select($"histogram8").as[Array[Long]].head()
    assert(hist.sum == 8 * 8 * 3)
  }

  test("resize: nearest-neighbor downsample halves dims, keeps sampled bytes") {
    val half = Multimodal.resize(Multimodal.decodeImages(media), 2)
      .filter($"path".endsWith("img_8x8x3.grf")).head()
    assert(half.width == 4 && half.height == 4 && half.channels == 3)
    // top-left pixel of channel 1 survives: (0*7 + 0*13 + 1*31) % 256 = 31
    assert((half.pixels(1) & 0xff) == 31)
  }

  test("decodeAudio: rate/samples/mean") {
    val a = Multimodal.decodeAudio(media).head()
    assert(a.sampleRate == 8000 && a.nSamples == 256)
    val expected = (0 until 256).map(i => (i * 17) % 256).sum.toDouble / 256
    assert(a.meanAmplitude == expected)
  }

  test("corrupt/truncated payloads are skipped, never fail the scan") {
    val dir = java.nio.file.Files.createTempDirectory("badmedia")
    java.nio.file.Files.write(dir.resolve("garbage.grf"), Array.fill[Byte](40)(7))
    // valid image header claiming 8x8x3 but truncated payload
    val bad = "GRF1".getBytes("US-ASCII") ++ Array[Byte](0) ++
      java.nio.ByteBuffer.allocate(12).putInt(8).putInt(8).putInt(3).array() ++
      Array.fill[Byte](10)(1)
    java.nio.file.Files.write(dir.resolve("truncated.grf"), bad)
    val files = Multimodal.asMediaFiles(Multimodal.readMedia(spark, dir.toString))
    assert(Multimodal.decodeImages(files).count() == 0)
    assert(Multimodal.decodeAudio(files).count() == 0)
    assert(Multimodal.frameSample(files, 1).count() == 0)
  }

  test("inflated headers are rejected before allocation (incl. Int-overflow dims)") {
    val dir = java.nio.file.Files.createTempDirectory("inflatedmedia")
    def payload(kind: Byte, dims: Int*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4 * dims.length)
      dims.foreach(b.putInt)
      "GRF1".getBytes("US-ASCII") ++ Array[Byte](kind) ++ b.array() ++ Array.fill[Byte](64)(1)
    }
    // header claims ~2G pixels against a 64-byte body
    java.nio.file.Files.write(dir.resolve("huge_img.grf"), payload(0, 46000, 46000, 1))
    // dims whose Int product wraps negative (2000^3) — a naive
    // `remaining < w*h*c` check would pass and allocate
    java.nio.file.Files.write(dir.resolve("overflow_img.grf"), payload(0, 2000, 2000, 2000))
    java.nio.file.Files.write(dir.resolve("neg_img.grf"), payload(0, -8, 8, 3))
    // dims whose LONG product wraps past 2^64 to a small positive value
    // (320*107367629*536903681 == 2^64 + 64) — an end-only Long bound
    // check would accept it and emit a bogus 64-byte "image"
    java.nio.file.Files.write(dir.resolve("wrap64_img.grf"),
      payload(0, 320, 107367629, 536903681))
    java.nio.file.Files.write(dir.resolve("huge_audio.grf"), payload(1, 8000, Int.MaxValue))
    java.nio.file.Files.write(dir.resolve("huge_video.grf"), payload(2, 1 << 20, 1 << 11, 1 << 11))
    val files = Multimodal.asMediaFiles(Multimodal.readMedia(spark, dir.toString))
    assert(Multimodal.decodeImages(files).count() == 0)
    assert(Multimodal.decodeAudio(files).count() == 0)
    assert(Multimodal.frameSample(files, 1).count() == 0)
  }

  test("decodeWav: real RIFF/WAVE fixtures decode to formula-exact features; hostile files skipped") {
    import graft.ext.Multimodal.{decodeWav, parseWav}
    val files = Multimodal.asMediaFiles(
      Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/audio"))
    val rows = decodeWav(files).collect()
      .map(r => r.path.split('/').last -> r).toMap
    // the adversarial float-format and truncated files must be absent
    assert(rows.keySet == Set(
      "pcm16_mono_8k.wav", "pcm16_stereo_44k.wav", "pcm8_mono_11k.wav"))
    // formula truth (mirrors tools/gen_wav_fixtures.py):
    // 16-bit s(i,ch) = ((i*773 + ch*131) % 4001) - 2000; 8-bit v-128
    def s16(i: Int, ch: Int) = ((i * 773 + ch * 131) % 4001) - 2000
    val monoAmps = (0 until 2048).map(i => math.abs(s16(i, 0)))
    val m = rows("pcm16_mono_8k.wav")
    assert((m.sampleRate, m.channels, m.bitsPerSample, m.nFrames) == ((8000, 1, 16, 2048L)))
    assert(m.sumAbs == monoAmps.map(_.toLong).sum && m.peakAbs == monoAmps.max,
      "LIST chunk with odd payload must be skipped with its pad byte, leaving data intact")
    val st = rows("pcm16_stereo_44k.wav")
    val stAmps = (0 until 1000).flatMap(i => Seq(math.abs(s16(i, 0)), math.abs(s16(i, 1))))
    assert(st.nFrames == 1000L && st.channels == 2 && st.sumAbs == stAmps.map(_.toLong).sum)
    val p8 = rows("pcm8_mono_11k.wav")
    assert(p8.bitsPerSample == 8 && p8.nFrames == 500L &&
      p8.sumAbs == (0 until 500).map(i => math.abs((i * 37 + 11) % 256 - 128).toLong).sum)

    // parser-level hostile inputs (no filesystem round trip needed)
    assert(parseWav("x", Array.fill[Byte](10)(0)).isEmpty, "short file")
    assert(parseWav("x", "RIFFxxxxWAVE".getBytes ++ Array.fill[Byte](40)(0)).isEmpty,
      "no fmt/data chunks")
    // chunk size that overruns the buffer must drop the file, not throw
    val overrun = "RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++ "WAVE".getBytes ++
      "data".getBytes ++ Array[Byte](-1, -1, -1, 0x7f) ++ Array.fill[Byte](32)(0)
    assert(parseWav("x", overrun).isEmpty)
  }

  test("decodeBmp: real BMP fixtures decode to formula-exact features; hostile files skipped") {
    import graft.ext.Multimodal.{decodeBmp, parseBmp}
    val files = Multimodal.asMediaFiles(
      Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/images"))
    val rows = decodeBmp(files).collect()
      .map(r => r.path.split('/').last -> r).toMap
    // the adversarial RLE-compressed and truncated files must be absent
    assert(rows.keySet == Set(
      "rgb24_37x25.bmp", "rgb24_16x8_topdown.bmp", "rgb32_10x10.bmp"))
    // formula truth (mirrors tools/gen_bmp_fixtures.py), image-space y-down
    def rc(x: Int, y: Int) = (x * 11 + y * 2 + 101) % 256
    def gc(x: Int, y: Int) = (x * 3 + y * 5 + 17) % 256
    def bc(x: Int, y: Int) = (x * 7 + y * 13) % 256
    def truth(w: Int, h: Int) = {
      val px = for (x <- 0 until w; y <- 0 until h) yield (rc(x, y), gc(x, y), bc(x, y))
      (px.map(_._1.toLong).sum, px.map(_._2.toLong).sum, px.map(_._3.toLong).sum,
        px.map { case (r, g, b) => r * 299L + g * 587L + b * 114L }.max,
        (0 until w).map(x => rc(x, 0).toLong).sum)
    }
    for ((name, w, h, bits) <- Seq(("rgb24_37x25.bmp", 37, 25, 24),
        ("rgb24_16x8_topdown.bmp", 16, 8, 24), ("rgb32_10x10.bmp", 10, 10, 32))) {
      val r = rows(name)
      val (sr, sg, sb, peak, top) = truth(w, h)
      assert((r.width, r.height, r.bits, r.nPx) == ((w, h, bits, w.toLong * h)), name)
      assert((r.sumR, r.sumG, r.sumB) == ((sr, sg, sb)), name)
      assert(r.peakLumaMilli == peak, name)
      // orientation-sensitive: bottom-up vs top-down storage must both
      // resolve to the TOP image row here
      assert(r.topRowSumR == top, s"$name: row-order (bottom-up/top-down) mishandled")
    }

    // parser-level hostile inputs (no filesystem round trip needed)
    assert(parseBmp("x", Array.fill[Byte](10)(0)).isEmpty, "short file")
    val bm = "BM".getBytes ++ Array.fill[Byte](60)(0)
    assert(parseBmp("x", bm).isEmpty, "zero-dim header")
    // hostile dims: width*height*bpp overflows Int — must reject, not allocate
    val big = java.nio.ByteBuffer.allocate(70).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    big.put('B'.toByte).put('M'.toByte)
    big.putInt(2, 70).putInt(10, 54).putInt(14, 40)
    big.putInt(18, 1 << 30).putInt(22, 1 << 30)
    big.putShort(26, 1).putShort(28, 24).putInt(30, 0)
    assert(parseBmp("x", big.array()).isEmpty, "overflowing dims must be dropped")
  }

  test("dHashBmp: fixture hashes match the generator's independent " +
      "implementation; sub-grid and compressed files skipped; banded " +
      "near-dup pairs are exactly the planted set") {
    import graft.ext.Multimodal.{dHashBmp, imageNearDupPairs, parseBmpDHash}
    val files = Multimodal.asMediaFiles(
      Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/images_dhash"))
    val rows = dHashBmp(files).collect()
      .map(r => r.path.split('/').last -> r.dhash).toMap
    // tiny_8x4 (sub-grid) and rle8_dh (compressed) must be absent
    assert(rows.keySet ==
      (0 until 4).flatMap(k => Seq(s"base$k.bmp", s"near$k.bmp")).toSet)
    // spot-pin two hashes against the generator's printed values (the
    // full set is oracle-certified by q325)
    assert(rows("base0.bmp") == -1L) // 0xffffffffffffffff
    assert(rows("base1.bmp") == 0L)
    // planted geometry: each near pair within the exact-recall band,
    // every cross-pattern pair outside it
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    for (k <- 0 until 4) {
      val d = dist(rows(s"base$k.bmp"), rows(s"near$k.bmp"))
      assert(d >= 1 && d <= 3, s"base$k/near$k dist $d")
    }
    // the banded join returns exactly the planted pairs
    val hashes = dHashBmp(files).toDF()
      .select(regexp_extract($"path", "[^/]+$", 0).as("name"), $"dhash")
    val pairs = imageNearDupPairs(hashes, "name", "dhash", maxDist = 3)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    assert(pairs ==
      (0 until 4).map(k => (s"base$k.bmp", s"near$k.bmp")).toSet)
    // identical bytes → distance 0 (self-consistency of the parser)
    val b0 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${SparkEntry.FixturesDir}/images_dhash/base2.bmp"))
    assert(parseBmpDHash("x", b0).get.dhash == rows("base2.bmp"))
  }

  test("dHashPng: fixture hashes match the generator's independent " +
      "decode (all five filter types, four color types, alpha " +
      "ignored); out-of-contract files skipped; cross-format parity " +
      "with the BMP leg") {
    import graft.ext.Multimodal.{dHashPng, parsePngDHash, parseBmpDHash}
    val files = Multimodal.asMediaFiles(
      Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/images_png"))
    val rows = dHashPng(files).collect()
      .map(r => r.path.split('/').last -> r).toMap
    // interlaced(flag over sequential layout → short stream)/deep16/
    // palette(out-of-range idx)/badplte/trunc/notpng/tiny_8x4/bomb/
    // ia2x/iatrunc all SKIPPED; pal0-3 DECODE (round 18); Adam7
    // members ia0/ia2/iapal1/iamin DECODE (round 19)
    assert(rows.keySet ==
      ((0 until 4).flatMap(k => Seq(s"base$k.png", s"near$k.png")) ++
        (0 until 4).map(k => s"pal$k.png") ++
        Seq("ia0.png", "ia2.png", "iapal1.png", "iamin.png")).toSet)
    // ── Adam7 (round 19): lossless re-ordering — each member must
    // land EXACTLY on its sequential sibling (any pass placed at the
    // wrong full-image coordinates, a wrong per-pass width, or a
    // filter crossing a pass boundary shifts a cell sum); iamin's
    // 9×8 drives passes down to 1×1
    assert(rows("ia0.png").dhash == rows("base0.png").dhash,
      "ia0: Adam7 gray divergence")
    assert(rows("ia2.png").dhash == rows("base2.png").dhash,
      "ia2: Adam7 RGBA divergence")
    assert(rows("iapal1.png").dhash == rows("base1.png").dhash,
      "iapal1: Adam7 palette divergence")
    assert(rows("iamin.png").width == 9 && rows("iamin.png").height == 8)
    // channels report the color-type contract legs (gray/RGB/RGBA/GA)
    assert(rows("base0.png").channels == 1 && rows("base1.png").channels == 3
      && rows("base2.png").channels == 4 && rows("base3.png").channels == 2)
    // PALETTE APPLICATION is load-bearing: pal_k stores INVERTED
    // indices against a REVERSED palette, so pass-through would hash
    // the negative image — equality with base_k proves the lookup
    for (k <- 0 until 4)
      assert(rows(s"pal$k.png").dhash == rows(s"base$k.png").dhash,
        s"pal$k: palette application broken")
    // CROSS-FORMAT PARITY — the q358 premise: the PNG luma formulas
    // are the BMP set's verbatim, so a PNG re-encode hashes
    // IDENTICALLY through the shared dHashOfGrid fold. This is also
    // what proves the filter inversion and alpha-ignoring exact: any
    // wrong reconstructed byte would shift a cell sum.
    val bmps = Multimodal.dHashBmp(Multimodal.asMediaFiles(
        Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/images_dhash")))
      .collect().map(r => r.path.split('/').last -> r.dhash).toMap
    for (k <- 0 until 4; s <- Seq("base", "near"))
      assert(rows(s"$s$k.png").dhash == bmps(s"$s$k.bmp"),
        s"$s$k: png/bmp hash divergence")
    // hostile arms direct through the pure parser — every
    // out-of-contract class returns None, never throws
    def bytesOf(n: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${SparkEntry.FixturesDir}/images_png/$n"))
    for (n <- Seq("interlaced.png", "deep16.png", "palette.png",
        "badplte.png", "trunc.png", "notpng.png", "tiny_8x4.png",
        "bomb.png", "ia2x.png", "iatrunc.png"))
      assert(parsePngDHash("x", bytesOf(n)).isEmpty, s"$n must skip")
    // a palette image missing its PLTE entirely is structurally broken
    val pal0 = bytesOf("pal0.png")
    val noPlte = {
      val plteAt = {
        var p = 8
        while (!(pal0(p + 4) == 'P' && pal0(p + 5) == 'L')) p += 12 +
          java.nio.ByteBuffer.wrap(pal0).getInt(p)
        p
      }
      val plteLen = 12 + java.nio.ByteBuffer.wrap(pal0).getInt(plteAt)
      pal0.take(plteAt) ++ pal0.drop(plteAt + plteLen)
    }
    assert(parsePngDHash("x", noPlte).isEmpty, "PLTE-less ct-3 must skip")
    // truncated mid-FILE (not just mid-IDAT): a chunk length past EOF
    val cut = bytesOf("base0.png")
    assert(parsePngDHash("x", cut.take(cut.length - 20)).isEmpty)
    assert(parsePngDHash("x", Array.emptyByteArray).isEmpty)
    // FDICT zlib header (0x78 0x20 — valid FCHECK, preset-dictionary
    // flag set): Inflater reports needsDictionary forever, and a
    // needsInput-only guard SPINS — must return None promptly
    // (round-17 review fix; byte-flip fuzz can't reach it because
    // flipping FDICT alone breaks FCHECK)
    val fdict = bytesOf("base0.png").clone()
    val idatAt = {
      var p = 8
      while (!(fdict(p + 4) == 'I' && fdict(p + 5) == 'D' &&
        fdict(p + 6) == 'A' && fdict(p + 7) == 'T')) p += 12 +
        java.nio.ByteBuffer.wrap(fdict).getInt(p)
      p + 8
    }
    fdict(idatAt) = 0x78.toByte
    fdict(idatAt + 1) = 0x20.toByte
    assert(parsePngDHash("x", fdict).isEmpty, "FDICT stream must drop")
    // OVER-LONG stream: the header claims one row fewer than the
    // stream carries — must drop per contract, never truncate-and-hash
    val shortH = bytesOf("base0.png").clone()
    java.nio.ByteBuffer.wrap(shortH).putInt(8 + 8 + 4, 63) // IHDR height
    assert(parsePngDHash("x", shortH).isEmpty, "over-long stream must drop")
    // self-consistency with the BMP parser on the same grid spec
    assert(parseBmpDHash("x", java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        s"${SparkEntry.FixturesDir}/images_dhash/base3.bmp"))).get.dhash
      == parsePngDHash("x", bytesOf("base3.png")).get.dhash)
  }

  test("dHashJpeg: baseline decode matches the generator's independent " +
      "implementation (grayscale, restarts, 4:4:4, 4:2:0, partial edge " +
      "blocks); out-of-contract files skipped; re-encode parity") {
    import graft.ext.Jpeg
    val files = Multimodal.asMediaFiles(
      Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/images_jpeg"))
    val rows = Jpeg.dHashJpeg(files).collect()
      .map(r => r.path.split('/').last -> r).toMap
    // progressive.jpg (DC+AC in ONE scan — SOF2-illegal)/arith/prec12/
    // trunc/notjpeg/tiny_8x4/progdri/progtrunc all SKIPPED;
    // prog0-3 + progodd now DECODE (round 18)
    assert(rows.keySet == ((0 until 4).flatMap(k =>
      Seq(s"base$k.jpg", s"near$k.jpg", s"prog$k.jpg")) ++
      (1 to 8).map(o => s"exif$o.jpg") ++
      Seq("jodd.jpg", "progodd.jpg", "progzrl.jpg", "postcom.jpg",
        "exif6odd.jpg", "exifbad.jpg", "exiflong.jpg", "exifzero.jpg",
        "exifdup.jpg", "exifthumb.jpg")).toSet)
    // ── EXIF orientation (round 19): all eight tag values hash the
    // UPRIGHT image — one hash across the whole family — and the
    // ignore arms (corrupt TIFF, LONG-typed tag, value 0, first-APP1-
    // wins decoy, IFD1-only thumbnail orientation) skip the TAG while
    // still decoding the file
    for (o <- 2 to 8)
      assert(rows(s"exif$o.jpg").dhash == rows("exif1.jpg").dhash,
        s"exif$o: oriented decode diverged from upright")
    for (o <- 1 to 8)
      assert(rows(s"exif$o.jpg").orientation == o, s"exif$o tag value")
    for (n <- Seq("exifbad.jpg", "exiflong.jpg", "exifzero.jpg",
        "exifthumb.jpg")) {
      assert(rows(n).orientation == 1, s"$n: hostile tag must read 1")
      assert(rows(n).dhash == rows("exif1.jpg").dhash, s"$n hash")
    }
    assert(rows("exifdup.jpg").orientation == 3, "first APP1 wins")
    assert(rows("exifdup.jpg").dhash == rows("exif1.jpg").dhash)
    // dim swap: 19×35 stored under orientation 6 reads back as the
    // 35×19 upright photo and lands EXACTLY on jodd's hash (cross-
    // membership into an existing capstone cluster)
    assert(rows("exif6odd.jpg").width == 35
      && rows("exif6odd.jpg").height == 19)
    assert(rows("exif6odd.jpg").dhash == rows("jodd.jpg").dhash,
      "exif6odd: dim-swapped member diverged from jodd")
    // untagged files read orientation 1
    assert(rows("base0.jpg").orientation == 1)
    // post-scan COM/APPn segments are length-skipped (T.81 misc
    // segments; round-19 advice fix) — same entropy as base0, so
    // distance 0; the hostile sibling's COM length overruns the file
    assert(rows("postcom.jpg").dhash == rows("base0.jpg").dhash,
      "postcom: post-scan segments must be transparent")
    // progzrl exists to exercise the paths smooth gradients never
    // reach: ZRL in BOTH passes, EOB runs > 1, history correction
    // bits pending behind an open EOB run (generator-asserted via
    // symbol-level stats); its hash parity vs the independent python
    // decode is certified by q359's oracle sweep
    assert(rows("progzrl.jpg").dhash != rows("prog0.jpg").dhash)
    // PROGRESSIVE == BASELINE, coefficient for coefficient: the four
    // progression scripts (full successive approximation; pure
    // spectral selection; 4:4:4 with chroma AC scans INTERLEAVED
    // between the Y scans — the skip path is load-bearing
    // mid-sequence; 4:2:0 with interleaved-DC MCU grid vs
    // single-component Y grid) all reconstruct the baseline
    // coefficients exactly
    for (k <- 0 until 4)
      assert(rows(s"prog$k.jpg").dhash == rows(s"base$k.jpg").dhash,
        s"prog$k: progressive/baseline divergence")
    assert(rows("progodd.jpg").dhash == rows("jodd.jpg").dhash,
      "progodd: partial-edge-block progressive divergence")
    // structure legs: grayscale / restart-marker / 4:4:4 / 4:2:0
    assert(rows("base0.jpg").components == 1
      && rows("base1.jpg").components == 1
      && rows("base2.jpg").components == 3
      && rows("base3.jpg").components == 3)
    // non-multiple-of-8 dims: partial edge blocks decoded, pad discarded
    assert(rows("jodd.jpg").width == 35 && rows("jodd.jpg").height == 19)
    // RE-ENCODE PARITY — the q360 premise: at the fixture quant
    // tables the dHash survives the lossy round trip EXACTLY, so a
    // JPEG re-encode of a BMP is a distance-0 pair (and any slip in
    // Huffman decode, dequant, the integer IDCT, restart handling, or
    // Y placement inside a 4:2:0 MCU would shift a cell sum)
    val bmps = Multimodal.dHashBmp(Multimodal.asMediaFiles(
        Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/images_dhash")))
      .collect().map(r => r.path.split('/').last -> r.dhash).toMap
    for (k <- 0 until 4; s <- Seq("base", "near"))
      assert(rows(s"$s$k.jpg").dhash == bmps(s"$s$k.bmp"),
        s"$s$k: jpeg/bmp hash divergence")
    // hostile arms direct through the pure parser
    def bytesOf(n: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${SparkEntry.FixturesDir}/images_jpeg/$n"))
    for (n <- Seq("progressive.jpg", "arith.jpg", "prec12.jpg",
        "trunc.jpg", "notjpeg.jpg", "tiny_8x4.jpg", "progdri.jpg",
        "progtrunc.jpg", "postcombad.jpg"))
      assert(Jpeg.parseJpegDHash("x", bytesOf(n)).isEmpty, s"$n must skip")
    // progressive hostile beyond the authored arms: truncation at
    // every marker boundary of prog2 must drop, never throw
    val p2 = bytesOf("prog2.jpg")
    for (cut <- Seq(p2.length / 4, p2.length / 2, p2.length - 3))
      assert(Jpeg.parseJpegDHash("x", p2.take(cut)).isEmpty,
        s"prog2 cut@$cut must skip")
    // mid-file truncation + garbage-in-entropy never throw
    val ok = bytesOf("base3.jpg")
    assert(Jpeg.parseJpegDHash("x", ok.take(ok.length / 2)).isEmpty)
    assert(Jpeg.parseJpegDHash("x", Array.emptyByteArray).isEmpty)
    val corrupt = ok.clone()
    corrupt(ok.length - 40) = 0x55 // flip a byte inside entropy data
    // either decodes to SOME hash or skips — must not throw
    Jpeg.parseJpegDHash("x", corrupt)
    // over-running entropy data: extra decodable bytes spliced in
    // before EOI must SKIP (the scaladoc contract) — the decoder
    // previously stopped at the last MCU and hashed anyway
    assert(Jpeg.parseJpegDHash("x", ok).isDefined) // positive control
    val overrun = ok.dropRight(2) ++
      Array[Byte](0x12, 0x34, 0x56) ++ ok.takeRight(2)
    assert(Jpeg.parseJpegDHash("x", overrun).isEmpty,
      "trailing entropy bytes before EOI must skip")
    // T.81 B.1.1.2 FILL BYTES (0xFF runs before a marker) are LEGAL
    // and must not change the hash (round-18 review fix: the strict
    // EOI gate rejected FF FF D9)
    val filled = ok.dropRight(2) ++
      Array[Byte](-1, -1) ++ ok.takeRight(2)
    assert(Jpeg.parseJpegDHash("x", filled).map(_.dhash)
      == Jpeg.parseJpegDHash("x", ok).map(_.dhash),
      "fill bytes before EOI must be transparent")
    val p0 = bytesOf("prog0.jpg")
    val p0filled = p0.dropRight(2) ++ Array[Byte](-1) ++ p0.takeRight(2)
    assert(Jpeg.parseJpegDHash("x", p0filled).map(_.dhash)
      == Jpeg.parseJpegDHash("x", p0).map(_.dhash),
      "fill bytes after the last progressive scan must be transparent")
  }

  test("dHashTiff: both byte orders, multi-strip reassembly, RGB " +
      "chunky, WhiteIsZero photometric INVERSION; out-of-contract " +
      "skipped; format parity with the BMP originals") {
    import graft.ext.Multimodal.{dHashTiff, parseTiffDHash}
    val files = Multimodal.asMediaFiles(
      Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/images_tiff"))
    val rows = dHashTiff(files).collect()
      .map(r => r.path.split('/').last -> r).toMap
    // nottiff/lzw(raw-bytes-as-stream)/lzwtrunc/lzwover/deep16/trunc/
    // tiny_8x4 all SKIPPED; lzw0-3 + lzwnoise DECODE (round 18)
    assert(rows.keySet == ((0 until 4).flatMap(k =>
      Seq(s"base$k.tif", s"near$k.tif", s"lzw$k.tif")) ++
      Seq("lzwnoise.tif", "p2lzw0.tif", "p2lzw1.tif", "p2lzw2.tif",
        "p2noise.tif")).toSet)
    // LZW legs are exact cluster members: byte order x multi-strip x
    // photometric inversion all compose UNDER the codec (lzw1 is
    // big-endian 4-strip, lzw3 is WhiteIsZero — each strip an
    // independent MSB-first early-change stream)
    for (k <- 0 until 4)
      assert(rows(s"lzw$k.tif").dhash == rows(s"base$k.tif").dhash,
        s"lzw$k: LZW decode diverges from the uncompressed sibling")
    // Predictor 2 (round 19): the inverse horizontal delta reproduces
    // the exact cluster member — gray, BIG-endian multi-strip, RGB
    // (per-SAMPLE delta: a byte-wise delta would smear channels and
    // shift cells), and the noise pattern's mod-256 wraparounds
    for (k <- 0 until 3)
      assert(rows(s"p2lzw$k.tif").dhash == rows(s"base$k.tif").dhash,
        s"p2lzw$k: predictor-2 decode diverges")
    assert(rows("p2noise.tif").dhash == rows("lzwnoise.tif").dhash,
      "p2noise: wraparound delta divergence")
    // structure legs: little/big endian, RGB, WhiteIsZero
    assert(!rows("base0.tif").bigEndian && rows("base1.tif").bigEndian)
    // FORMAT PARITY: lossless, shared formulas — any slip in the IFD
    // walk, strip reassembly, byte order, or photometric inversion
    // (base3 stores INVERTED samples) shifts a cell sum
    val bmps = Multimodal.dHashBmp(Multimodal.asMediaFiles(
        Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/images_dhash")))
      .collect().map(r => r.path.split('/').last -> r.dhash).toMap
    for (k <- 0 until 4; s <- Seq("base", "near"))
      assert(rows(s"$s$k.tif").dhash == bmps(s"$s$k.bmp"),
        s"$s$k: tiff/bmp hash divergence")
    def bytesOf(n: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${SparkEntry.FixturesDir}/images_tiff/$n"))
    // p2raw = predictor 2 without LZW (no real writer emits it);
    // p2bad = unknown predictor 3 — both drop
    for (n <- Seq("nottiff.tif", "lzw.tif", "lzwtrunc.tif",
        "lzwover.tif", "deep16.tif", "trunc.tif", "tiny_8x4.tif",
        "p2raw.tif", "p2bad.tif"))
      assert(parseTiffDHash("x", bytesOf(n)).isEmpty, s"$n must skip")
    assert(parseTiffDHash("x", Array.emptyByteArray).isEmpty)
    val cut = bytesOf("base0.tif")
    assert(parseTiffDHash("x", cut.take(40)).isEmpty) // IFD past EOF
  }

  test("parseTiffDHash hostile arms: Long-overflow bomb-cap bypass " +
      "and IFD OOM-amplifier shapes drop the file, never throw") {
    import graft.ext.Multimodal.parseTiffDHash
    // little-endian TIFF builder: header + one IFD of (tag, typ, cnt,
    // slotOrOffset) entries + raw tail data
    def tiff(entries: Seq[(Int, Int, Long, Long)], tail: Array[Byte])
        : Array[Byte] = {
      val n = entries.length
      val len = 8 + 2 + 12 * n + 4 + tail.length
      val buf = java.nio.ByteBuffer.allocate(len)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
      buf.putShort(n.toShort)
      entries.foreach { case (tag, typ, cnt, v) =>
        buf.putShort(tag.toShort).putShort(typ.toShort)
          .putInt(cnt.toInt).putInt(v.toInt)
      }
      buf.putInt(0) // next-IFD
      buf.put(tail)
      buf.array()
    }
    // ── bomb-cap bypass: w·h = 12297829382473034415 ≥ 2^63 wraps
    // NEGATIVE (slips a product-only `> cap` check) and ·spp=3 wraps
    // AGAIN to exactly 13, matched by one 13-byte strip — under the
    // pre-round-18 code the pixel loop then ran with h≈4.2e9 and the
    // strip cursor walked off the table (task-killing throw). The
    // per-dimension cap must drop it instead.
    val extOff = 8 + 2 + 12 * 9 + 4 // ext data right after the IFD
    val bitsExt = Array[Byte](8, 0, 8, 0, 8, 0) // BitsPerSample 8,8,8
    val strip = Array.fill[Byte](13)(0x42)
    val bomb = tiff(Seq(
      (256, 4, 1L, 2900561549L), // ImageWidth (LONG, u32)
      (257, 4, 1L, 4239809835L), // ImageLength
      (258, 3, 3L, extOff.toLong), // BitsPerSample → pointed 8,8,8
      (259, 3, 1L, 1L), // Compression none
      (262, 3, 1L, 2L), // RGB
      (273, 4, 1L, (extOff + 6).toLong), // StripOffsets → the strip
      (277, 3, 1L, 3L), // spp 3
      (279, 4, 1L, 13L), // StripByteCounts: the wrapped `need`
      (284, 3, 1L, 1L)), bitsExt ++ strip)
    assert(parseTiffDHash("x", bomb).isEmpty)
    // ── OOM-amplifier shape: 64 pointed entries of a needed tag, each
    // declaring 2^20 LONG values aliasing one in-file region. Eager
    // collection materialized 64·2^20 boxed longs (multi-GB) before
    // any relevance check; the lazy-slot scan must record 12-byte
    // slots only and drop the file at the h-bounded strip read.
    val bigTail = new Array[Byte]((1 << 22) + 16) // 4 MiB aliased region
    val manyOff = 8 + 2 + 12 * 67 + 4
    val many = tiff(
      Seq((256, 4, 1L, 64L), (257, 4, 1L, 64L),
        (262, 3, 1L, 1L)) ++
        Seq.fill(64)((273, 4, (1L << 20), manyOff.toLong)),
      bigTail)
    assert(parseTiffDHash("x", many).isEmpty)
    // ── out-of-file VALUE POINTER must DROP the file, never read as
    // absent (round-19 advice fix): a BitsPerSample slot (pointed —
    // cnt 3 SHORT = 6 bytes > 4) with a wild offset previously fell
    // back to the 8-bit default and the file hashed as 8-bit garbage.
    // Same file with the pointer fixed decodes; same file with the
    // slot OVER-CAP (cnt 9 > the reader's 8) stays ABSENT → default 8
    // → decodes. The three arms pin the absent/drop boundary.
    def rgb9x8(bpsCnt: Long, bpsPtr: Long): Array[Byte] = {
      val ext = 8 + 2 + 12 * 9 + 4
      val bits = Array[Byte](8, 0, 8, 0, 8, 0)
      val strip = Array.fill[Byte](9 * 8 * 3)(0x40)
      tiff(Seq(
        (256, 4, 1L, 9L), (257, 4, 1L, 8L),
        (258, 3, bpsCnt, bpsPtr),
        (259, 3, 1L, 1L), (262, 3, 1L, 2L),
        (273, 4, 1L, (ext + 6).toLong), (277, 3, 1L, 3L),
        (279, 4, 1L, (9 * 8 * 3).toLong), (284, 3, 1L, 1L)),
        bits ++ strip)
    }
    val ext9 = 8 + 2 + 12 * 9 + 4
    assert(parseTiffDHash("x", rgb9x8(3L, ext9.toLong)).nonEmpty,
      "control: valid pointed BitsPerSample must decode")
    assert(parseTiffDHash("x", rgb9x8(3L, 1L << 20)).isEmpty,
      "hostile: out-of-file BitsPerSample pointer must drop the file")
    assert(parseTiffDHash("x", rgb9x8(9L, 1L << 20)).nonEmpty,
      "over-cap slot stays ABSENT (default 8) — bomb posture unchanged")
  }

  test("dHashGif: first-frame decode matches the generator (LZW, " +
      "palette application, interlace, extensions skipped, animation " +
      "poster frame); out-of-contract files skipped; format parity") {
    import graft.ext.Gif
    val files = Multimodal.asMediaFiles(
      Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/images_gif"))
    val rows = Gif.dHashGif(files).collect()
      .map(r => r.path.split('/').last -> r).toMap
    // notgif/trunc/tiny_8x4/offset_frame/notable all SKIPPED
    assert(rows.keySet == ((0 until 4).flatMap(k =>
      Seq(s"base$k.gif", s"near$k.gif")) :+ "ganim.gif").toSet)
    // structure legs: 87a, 89a+extensions, interlaced, local table
    assert(rows("base2.gif").interlaced && !rows("base0.gif").interlaced)
    // FORMAT PARITY — GIF is lossless, so the gray-palette formulas
    // hash identically to the BMP originals (any LZW/palette/
    // interlace slip shifts a cell sum); base3 uses a REVERSED local
    // palette with inverted indices, so palette application — not
    // index pass-through — is what makes it match
    val bmps = Multimodal.dHashBmp(Multimodal.asMediaFiles(
        Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/images_dhash")))
      .collect().map(r => r.path.split('/').last -> r.dhash).toMap
    for (k <- 0 until 4; s <- Seq("base", "near"))
      assert(rows(s"$s$k.gif").dhash == bmps(s"$s$k.bmp"),
        s"$s$k: gif/bmp hash divergence")
    // the animation hashes its POSTER frame (the quadratic pattern),
    // not the pattern-0 second frame
    assert(rows("ganim.gif").dhash != bmps("base0.bmp"))
    // hostile arms direct through the pure parser
    def bytesOf(n: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${SparkEntry.FixturesDir}/images_gif/$n"))
    for (n <- Seq("notgif.gif", "trunc.gif", "tiny_8x4.gif",
        "offset_frame.gif", "notable.gif"))
      assert(Gif.parseGifDHash("x", bytesOf(n)).isEmpty, s"$n must skip")
    assert(Gif.parseGifDHash("x", Array.emptyByteArray).isEmpty)
    val cut = bytesOf("base2.gif")
    assert(Gif.parseGifDHash("x", cut.take(cut.length - 10)).isEmpty)
  }

  test("dHashWebp: VP8L fixtures match the generator's independent " +
      "decode (simple + normal prefix codes, LZ77 2D/raw distances, " +
      "color cache, subtract-green); out-of-contract skipped; " +
      "cross-format parity with the BMP originals") {
    import graft.ext.Vp8l
    val files = Multimodal.asMediaFiles(
      Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/images_webp"))
    val rows = Vp8l.dHashWebp(files).collect()
      .map(r => r.path.split('/').last -> r).toMap
    // notwebp/lossy/trunc/predictor/tiny_8x4 all SKIPPED
    assert(rows.keySet == (0 until 4).flatMap(k =>
      Seq(s"webp$k.webp", s"webpnear$k.webp")).toSet)
    // feature legs: webp2 carries the subtract-green transform
    assert(rows("webp2.webp").subtractGreen
      && !rows("webp0.webp").subtractGreen)
    // CROSS-FORMAT PARITY — the q370 premise: VP8L is lossless and
    // the luma formulas are the BMP set's verbatim, so any slip in
    // the prefix-code reconstruction, LZ77 copy, cache hashing, or
    // subtract-green inversion shifts a cell sum
    val bmps = Multimodal.dHashBmp(Multimodal.asMediaFiles(
        Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/images_dhash")))
      .collect().map(r => r.path.split('/').last -> r.dhash).toMap
    for (k <- 0 until 4) {
      assert(rows(s"webp$k.webp").dhash == bmps(s"base$k.bmp"),
        s"webp$k: vp8l/bmp hash divergence")
      assert(rows(s"webpnear$k.webp").dhash == bmps(s"near$k.bmp"),
        s"webpnear$k: vp8l/bmp hash divergence")
    }
    // hostile arms direct through the pure parser
    def bytesOf(n: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${SparkEntry.FixturesDir}/images_webp/$n"))
    for (n <- Seq("notwebp.webp", "lossy.webp", "trunc.webp",
        "predictor.webp", "tiny_8x4.webp"))
      assert(Vp8l.parseVp8lDHash("x", bytesOf(n)).isEmpty, s"$n must skip")
    assert(Vp8l.parseVp8lDHash("x", Array.emptyByteArray).isEmpty)
    // truncation at arbitrary points never throws
    val ok = bytesOf("webp1.webp")
    for (cut <- Seq(16, ok.length / 3, ok.length - 2))
      assert(Vp8l.parseVp8lDHash("x", ok.take(cut)).isEmpty,
        s"cut@$cut must skip")
    // round-19 advice fix: the color-cache flag set with
    // color_cache_code_bits == 0 must REJECT (RFC 9649 range is
    // 1..11; libwebp errors) — previously the cache was silently
    // disabled and a file real decoders reject hashed here. Bit-
    // crafted 9×8 header; LSB-first bits after the 32-bit dims word:
    // 0 (no transform), 1 (cache flag), 0000 (cache bits), 0 (meta)
    // = 0x02. The positive control for cache decoding is the fixture
    // parity above (the generator emits cache_bits > 0 members).
    def vp8lFile(headTail: Array[Byte]): Array[Byte] = {
      val pay = Array[Byte](0x2f, 0x08, 0xc0.toByte, 0x01, 0x00) ++ headTail
      val riff = java.nio.ByteBuffer.allocate(20 + pay.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      riff.put("RIFF".getBytes("US-ASCII")).putInt(12 + pay.length)
        .put("WEBP".getBytes("US-ASCII"))
        .put("VP8L".getBytes("US-ASCII")).putInt(pay.length).put(pay)
      riff.array()
    }
    assert(Vp8l.parseVp8lDHash(
      "x", vp8lFile(Array[Byte](0x02, 0, 0))).isEmpty,
      "cache flag + cacheBits 0 must reject")
  }

  test("aHashAiff/aHashAu: AIFF re-encodes hash identically to their " +
      "WAV originals; μ-law expansion matches the generator's; " +
      "out-of-contract files skipped") {
    import graft.ext.Multimodal.{aHashAiff, aHashAu, parseAiffAHash,
      parseAuAHash, parseWavAHash}
    val dir = s"${SparkEntry.FixturesDir}/audio_formats"
    val aiffs = aHashAiff(Multimodal.asMediaFiles(
        Multimodal.readMedia(spark, dir)))
      .collect().map(r => r.path.split('/').last -> r).toMap
    // .au files and the hostile .aif arms never surface here
    assert(aiffs.keySet == ((0 until 4).flatMap(k =>
      Seq(s"fbase$k.aif", s"fnear$k.aif")) :+ "scaled8.aif").toSet)
    // CROSS-CONTAINER PARITY — q366's premise: the AIFF re-encode of
    // a WAV (same samples, big-endian storage, signed-8 vs unsigned-8
    // conventions aside) hashes IDENTICALLY through the shared
    // window spec
    val wavs = Multimodal.aHashWav(Multimodal.asMediaFiles(
        Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/audio_ahash")))
      .collect().map(r => r.path.split('/').last -> r.ahash).toMap
    for (k <- 0 until 4; (a, w) <- Seq(("fbase", "abase"), ("fnear", "anear")))
      assert(aiffs(s"$a$k.aif").ahash == wavs(s"$w$k.wav"),
        s"$a$k: aiff/wav hash divergence")
    assert(aiffs("fbase0.aif").sampleRate == 8000)
    // AU: μ-law + A-law + 8/16-bit-linear legs decode; float and
    // sub-window skip
    val aus = aHashAu(Multimodal.asMediaFiles(
        Multimodal.readMedia(spark, dir)))
      .collect().map(r => r.path.split('/').last -> r).toMap
    assert(aus.keySet == ((0 until 4).flatMap(k =>
      Seq(s"ubase$k.au", s"unear$k.au", s"gbase$k.au", s"gnear$k.au")) ++
      Seq("lin16.au", "lin8.au")).toSet)
    // the planted μ-law geometry survives the codec (generator-
    // asserted; re-checked here through the Spark decoder)
    for (k <- 0 until 4) {
      val d = java.lang.Long.bitCount(
        aus(s"ubase$k.au").ahash ^ aus(s"unear$k.au").ahash)
      assert(d >= 1 && d <= 3, s"ubase$k/unear$k dist $d")
      // CROSS-CODEC: the A-law re-encode reconstructs through a
      // DIFFERENT quantizer yet lands window-for-window with the
      // μ-law member (the envelope formulas' headroom — generator-
      // asserted, re-proven here through both Spark expansions)
      assert(aus(s"gbase$k.au").ahash == aus(s"ubase$k.au").ahash,
        s"gbase$k: a-law/μ-law divergence")
      assert(aus(s"gnear$k.au").ahash == aus(s"unear$k.au").ahash,
        s"gnear$k: a-law/μ-law divergence")
    }
    // hostile arms direct through the pure parsers
    def bytesOf(n: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/$n"))
    for (n <- Seq("notaiff.aif", "trunc.aif", "short_64.aif"))
      assert(parseAiffAHash("x", bytesOf(n)).isEmpty, s"$n must skip")
    for (n <- Seq("notau.au", "float.au", "trunc.au"))
      assert(parseAuAHash("x", bytesOf(n)).isEmpty, s"$n must skip")
    assert(parseAiffAHash("x", Array.emptyByteArray).isEmpty)
    assert(parseAuAHash("x", Array.emptyByteArray).isEmpty)
    // container separation: the parsers reject each other's formats
    assert(parseAuAHash("x", bytesOf("fbase0.aif")).isEmpty)
    assert(parseAiffAHash("x", bytesOf("ubase0.au")).isEmpty)
    assert(parseWavAHash("x", bytesOf("fbase0.aif")).isEmpty)
  }

  test("aHashFlac: all four subframe strategies decode to the WAV " +
      "formulas exactly (lossless re-encode parity); CRCs verified; " +
      "out-of-contract files skipped") {
    import graft.ext.Flac
    val dir = s"${SparkEntry.FixturesDir}/audio_formats"
    val rows = Flac.aHashFlac(Multimodal.asMediaFiles(
        Multimodal.readMedia(spark, dir)))
      .collect().map(r => r.path.split('/').last -> r).toMap
    // notflac/trunc/badcrc skip; the non-FLAC containers never surface
    assert(rows.keySet == ((0 until 4).flatMap(k =>
      Seq(s"cbase$k.flac", s"cnear$k.flac")) ++
      Seq("c22k.flac", "m1.flac", "stind.flac", "stls.flac",
        "stsr.flac", "stms.flac")).toSet)
    // rice METHOD 1 (round 19): m1 carries 5-bit params ≥ 16 that
    // method 0's 4-bit field cannot express (generator-asserted
    // against its own method-0 re-encode), so equality with cbase0
    // proves the widened param/escape path decodes — not merely that
    // the flag is tolerated
    assert(rows("m1.flac").ahash == rows("cbase0.flac").ahash,
      "m1: rice method-1 divergence")
    // STEREO DECORRELATION: the same L/R audio through all FOUR
    // channel assignments (independent / left-side / side-right /
    // mid-side, the side subframes one bit deeper, the floor-mid
    // parity reconstruction) must land on ONE hash — any slip in any
    // decorrelation path splits the 4-member cluster
    for (n <- Seq("stls.flac", "stsr.flac", "stms.flac"))
      assert(rows(n).ahash == rows("stind.flac").ahash,
        s"$n: stereo decorrelation divergence")
    assert(rows("stind.flac").nSamples == 8192L) // interleaved count
    // rate code 6 (22.05 kHz) — one of the three TABLE codes the
    // round-18 review found misdecoded as trailing-byte forms; same
    // samples as cbase0, so only the rate differs
    assert(rows("c22k.flac").sampleRate == 22050
      && rows("c22k.flac").ahash == rows("cbase0.flac").ahash)
    // CROSS-CODEC PARITY — q366's flac leg: cbase/cnear carry the WAV
    // formulas' exact samples through four different subframe
    // strategies (fixed / verbatim / LPC+partitions / mixed+escape),
    // so any slip in rice decode, prediction order, partition sizing,
    // or the escape hatch shifts a window sum
    val wavs = Multimodal.aHashWav(Multimodal.asMediaFiles(
        Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/audio_ahash")))
      .collect().map(r => r.path.split('/').last -> r.ahash).toMap
    for (k <- 0 until 4; (c, w) <- Seq(("cbase", "abase"), ("cnear", "anear")))
      assert(rows(s"$c$k.flac").ahash == wavs(s"$w$k.wav"),
        s"$c$k: flac/wav hash divergence")
    assert(rows("cbase0.flac").sampleRate == 8000
      && rows("cbase0.flac").nSamples == 4096L)
    // hostile arms direct through the pure parser; badcrc is the
    // load-bearing one — the SAMPLES are intact, only the frame CRC
    // is flipped, so skipping proves the CRC is actually CHECKED
    def bytesOf(n: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/$n"))
    for (n <- Seq("notflac.flac", "trunc.flac", "badcrc.flac"))
      assert(Flac.parseFlacAHash("x", bytesOf(n)).isEmpty, s"$n must skip")
    assert(Flac.parseFlacAHash("x", Array.emptyByteArray).isEmpty)
    // trailing garbage after the last frame must drop (the over-long
    // contract shared with the PNG/JPEG legs)
    val ok = bytesOf("cbase1.flac")
    assert(Flac.parseFlacAHash("x", ok ++ Array[Byte](1, 2, 3)).isEmpty)
    // container separation: FLAC parser rejects the other audio forms
    assert(Flac.parseFlacAHash("x", bytesOf("fbase0.aif")).isEmpty)
    assert(Flac.parseFlacAHash("x", bytesOf("ubase0.au")).isEmpty)
  }

  test("aHashWav: fixture hashes match the generator; sub-window and " +
      "float files skipped; gain invariance; planted pairs exact") {
    import graft.ext.Multimodal.{aHashWav, parseWavAHash}
    import graft.ext.SimSearch
    val files = Multimodal.asMediaFiles(
      Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/audio_ahash"))
    val rows = aHashWav(files).collect()
      .map(r => r.path.split('/').last -> r.ahash).toMap
    // short_64 (sub-window) and float32_ah (format 3 claiming 16-bit
    // — malformed: float is 32-bit by definition) absent; round-19
    // hostile arms (NaN float, stereo/partial-block/bad-spb/bad-index
    // ADPCM) absent; float + ADPCM members DECODE
    assert(rows.keySet ==
      ((0 until 4).flatMap(k => Seq(s"abase$k.wav", s"anear$k.wav")) ++
        Seq("fl0.wav", "fl3.wav", "ad0.wav", "ad2.wav")).toSet)
    // spot-pin against the generator's printed values
    assert(rows("abase0.wav") == -1L) // ascending envelope: all bits
    assert(rows("abase1.wav") == 0L)
    assert(rows("abase2.wav") == 0x5555555555555555L)
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    for (k <- 0 until 4) {
      val d = dist(rows(s"abase$k.wav"), rows(s"anear$k.wav"))
      assert(d >= 1 && d <= 3, s"abase$k/anear$k dist $d")
    }
    // ── round 19: the float-32 re-encode hashes IDENTICALLY
    // (rint(|f|·32768) is the exact inverse of s/32768) and the
    // IMA-ADPCM members land distance 0 through the full lossy
    // round trip (block predictors + adapted step index)
    assert(rows("fl0.wav") == rows("abase0.wav"), "fl0 float divergence")
    assert(rows("fl3.wav") == rows("abase3.wav"), "fl3 float divergence")
    assert(rows("ad0.wav") == rows("abase0.wav"), "ad0 ADPCM divergence")
    assert(rows("ad2.wav") == rows("abase2.wav"), "ad2 ADPCM divergence")
    // the generic banded join returns exactly the planted pairs plus
    // the new members' cluster edges
    val hashes = aHashWav(files).toDF()
      .select(regexp_extract($"path", "[^/]+$", 0).as("name"), $"ahash")
    val pairs = SimSearch.hammingBandedPairs(hashes, "name", "ahash", 3)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    val member = Map("fl0.wav" -> 0, "fl3.wav" -> 3, "ad0.wav" -> 0,
      "ad2.wav" -> 2)
    val expected =
      (0 until 4).map(k => (s"abase$k.wav", s"anear$k.wav")).toSet ++
      member.toSeq.flatMap { case (m, k) =>
        Seq(s"abase$k.wav", s"anear$k.wav").map(o =>
          if (m < o) (m, o) else (o, m))
      } ++
      (for ((a, ka) <- member.toSeq; (b, kb) <- member.toSeq
        if a < b && ka == kb) yield (a, b))
    assert(pairs == expected, s"pair drift: $pairs")
    // GAIN INVARIANCE: doubling every sample preserves the hash (an
    // exact scalar gain scales both sides of every comparison)
    val orig = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      s"${SparkEntry.FixturesDir}/audio_ahash/abase3.wav"))
    val doubled = orig.clone()
    val doff = {
      var i = 12
      while (!(doubled(i) == 'd' && doubled(i + 1) == 'a' &&
        doubled(i + 2) == 't' && doubled(i + 3) == 'a')) i += 1
      i + 8
    }
    var p = doff
    while (p + 1 < doubled.length) {
      val v = ((doubled(p) & 0xff) | (doubled(p + 1) << 8)).toShort
      val d2 = (v * 2).toShort
      doubled(p) = (d2 & 0xff).toByte
      doubled(p + 1) = ((d2 >> 8) & 0xff).toByte
      p += 2
    }
    assert(parseWavAHash("x", doubled).get.ahash == rows("abase3.wav"),
      "a 2x gain must not change the envelope hash")
    // round-19 hostile arms direct through the pure parser
    def bytesOf(n: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"${SparkEntry.FixturesDir}/audio_ahash/$n"))
    for (n <- Seq("flnan.wav", "adstereo.wav", "adshort.wav",
        "adbadspb.wav", "adbadidx.wav", "float32_ah.wav", "short_64.wav"))
      assert(parseWavAHash("x", bytesOf(n)).isEmpty, s"$n must skip")
    // truncation of the new formats never throws
    for (n <- Seq("fl0.wav", "ad0.wav"); cut <- Seq(20, 200)) {
      val fb = bytesOf(n)
      assert(parseWavAHash("x", fb.take(fb.length - cut)).isEmpty,
        s"$n cut-$cut must skip")
    }
    // OVER-RANGE floats saturate at full scale (review fix: an
    // unclamped 1e30 would overflow the window-sum cross products):
    // a file with one 1e30 sample must hash IDENTICALLY to the same
    // file with that sample at exactly 1.0
    def floatWav(vals: Seq[Float]): Array[Byte] = {
      val data = java.nio.ByteBuffer.allocate(vals.length * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(data.putFloat)
      val fmt = java.nio.ByteBuffer.allocate(24)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      fmt.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(3).putShort(1).putInt(8000).putInt(32000)
        .putShort(4).putShort(32)
      val body = "WAVE".getBytes("US-ASCII") ++ fmt.array() ++
        "data".getBytes("US-ASCII") ++
        java.nio.ByteBuffer.allocate(4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .putInt(vals.length * 4).array() ++ data.array()
      "RIFF".getBytes("US-ASCII") ++
        java.nio.ByteBuffer.allocate(4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .putInt(body.length).array() ++ body
    }
    val ramp = (0 until 130).map(i => 0.001f * i)
    val hot = parseWavAHash("x", floatWav(ramp.updated(70, 1e30f)))
    val sat = parseWavAHash("x", floatWav(ramp.updated(70, 1.0f)))
    assert(hot.isDefined && hot.map(_.ahash) == sat.map(_.ahash),
      "over-range float must saturate, not overflow")
  }

  test("aviFrames: MJPEG-in-AVI frames decode through the certified " +
      "JPEG machinery (RIFF walk, even padding, interleaved audio " +
      "transparent); cross-arc distance 0 vs the GRF1 stub; hostile " +
      "and boundary files skipped") {
    import graft.ext.{Avi, Jpeg}
    val dir = s"${SparkEntry.FixturesDir}/video_avi"
    val files = Multimodal.asMediaFiles(Multimodal.readMedia(spark, dir))
    val rows = Multimodal.dHashFrames(Avi.aviFrames(files, everyN = 2))
      .collect()
      .map(r => (r.path.split('/').last, r.frameIndex) -> r.dhash).toMap
    // h264 (boundary record: inter-frame codec)/badframe/progframe/
    // twovids/trunc/notavi and the .grf file all absent; sampled
    // indices 0/2/4 of the two MJPEG captures present
    assert(rows.keySet == (for (n <- Seq("cam0.avi", "camnear.avi");
      i <- Seq(0, 2, 4)) yield (n, i)).toSet)
    // frame hashes equal the certified still-image hashes: the AVI
    // payloads ARE the jpg fixture bytes (generator byte-asserted),
    // so any container-walk slip (pad handling, audio-chunk index
    // shift, wrong stream) surfaces as a hash/index mismatch
    val jpgs = Jpeg.dHashJpeg(Multimodal.asMediaFiles(
        Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/images_jpeg")))
      .collect().map(r => r.path.split('/').last -> r.dhash).toMap
    for ((fi, src) <- Seq(0 -> "base0.jpg", 2 -> "base2.jpg",
        4 -> "base0.jpg"))
      assert(rows(("cam0.avi", fi)) == jpgs(src), s"cam0 frame $fi")
    for ((fi, src) <- Seq(0 -> "near0.jpg", 2 -> "near2.jpg",
        4 -> "near0.jpg"))
      assert(rows(("camnear.avi", fi)) == jpgs(src), s"camnear frame $fi")
    // CROSS-ARC: the GRF1 raw re-encode's frames land at distance 0
    // (lossy MJPEG round trip is dHash-exact — q360 on moving
    // pictures)
    val grf = Multimodal.dHashFrames(
        Multimodal.frameSample(files, everyN = 2)).collect()
      .map(r => r.frameIndex -> r.dhash).toMap
    for (i <- Seq(0, 2, 4))
      assert(grf(i) == rows(("cam0.avi", i)), s"gstub frame $i")
    // everyN = 1 decodes all six frames
    assert(Avi.parseAviFrames("x",
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/cam0.avi")), 1).size == 6)
    // hostile arms direct through the pure parser
    def bytesOf(n: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/$n"))
    for (n <- Seq("h264.avi", "badframe.avi", "progframe.avi",
        "twovids.avi", "trunc.avi", "notavi.avi"))
      assert(Avi.parseAviFrames("x", bytesOf(n), 2).isEmpty,
        s"$n must skip")
    assert(Avi.parseAviFrames("x", Array.emptyByteArray, 2).isEmpty)
    // truncation at arbitrary points never throws
    val ok = bytesOf("cam0.avi")
    for (cut <- Seq(13, ok.length / 3, ok.length - 5))
      assert(Avi.parseAviFrames("x", ok.take(cut), 2).isEmpty,
        s"cut@$cut must skip")
    // DEEP-NESTING bomb (review fix): thousands of nested LISTs must
    // DROP at the depth cap — StackOverflowError is an Error and
    // would sail past the exception guard and kill a scan task
    val nested = {
      val depth = 20000
      val innerLen = 4 // just the list-type fourcc
      val buf = java.nio.ByteBuffer
        .allocate(12 + depth * 12 + innerLen + 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes("US-ASCII")).putInt(0)
        .put("AVI ".getBytes("US-ASCII"))
      for (d <- 0 until depth) {
        val remaining = (depth - 1 - d) * 12 + innerLen + 8
        buf.put("LIST".getBytes("US-ASCII")).putInt(4 + remaining)
          .put("hdrl".getBytes("US-ASCII"))
      }
      buf.put("LIST".getBytes("US-ASCII")).putInt(4)
        .put("hdrl".getBytes("US-ASCII"))
      buf.array()
    }
    assert(Avi.parseAviFrames("x", nested, 2).isEmpty,
      "nested-LIST bomb must drop, not overflow the stack")
    // WRAPPING chunk length (review fix): len ≈ 2^31 would wrap
    // `p + 8 + len` negative and send the cursor backwards — must
    // drop at the Long-domain bound, monotone by construction
    val wrap = ok.clone()
    val moviAt = {
      var i = 12
      while (!(wrap(i) == 'L' && wrap(i + 1) == 'I' &&
        wrap(i + 8) == 'm' && wrap(i + 9) == 'o')) i += 1
      i
    }
    val wb = java.nio.ByteBuffer.wrap(wrap)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    wb.putInt(moviAt + 4, 0x7ffffff0)
    assert(Avi.parseAviFrames("x", wrap, 2).isEmpty,
      "wrapping chunk length must drop")
    // PIXEL-BUDGET bomb (review fix): a file of thousands of small
    // valid frames exceeds the per-file decoded-pixel budget and
    // drops rather than retaining GBs of frame buffers
    val oneFrame = {
      val f = extractFirst00dc(ok)
      val padded = if (f.length % 2 == 1) f :+ 0.toByte else f
      "00dc".getBytes("US-ASCII") ++
        java.nio.ByteBuffer.allocate(4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .putInt(f.length).array() ++ padded
    }
    val nFrames = (1 << 25) / (64 * 64) + 2 // just past the budget
    val bombMovi = new java.io.ByteArrayOutputStream()
    bombMovi.write("movi".getBytes("US-ASCII"))
    for (_ <- 0 until nFrames) bombMovi.write(oneFrame)
    val hdrlEnd = moviAt // everything before the movi LIST
    val bombBody = new java.io.ByteArrayOutputStream()
    bombBody.write(ok, 8, hdrlEnd - 8) // "AVI " + hdrl (+JUNK)
    val moviBytes = bombMovi.toByteArray
    bombBody.write("LIST".getBytes("US-ASCII"))
    bombBody.write(java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(moviBytes.length).array())
    bombBody.write(moviBytes)
    val bombAll = new java.io.ByteArrayOutputStream()
    bombAll.write("RIFF".getBytes("US-ASCII"))
    bombAll.write(java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(bombBody.size()).array())
    bombBody.writeTo(bombAll)
    assert(Avi.parseAviFrames("x", bombAll.toByteArray, 1).isEmpty,
      "pixel-budget bomb must drop")
  }

  /** First 00dc payload of an AVI (test helper for the bomb arm). */
  private def extractFirst00dc(b: Array[Byte]): Array[Byte] = {
    var i = 12
    while (!(b(i) == '0' && b(i + 1) == '0' && b(i + 2) == 'd' &&
      b(i + 3) == 'c')) i += 1
    val len = java.nio.ByteBuffer.wrap(b, i + 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    java.util.Arrays.copyOfRange(b, i + 8, i + 8 + len)
  }

  test("decodeMp4: real ISO-BMFF fixtures decode to spec-exact metadata; hostile files skipped") {
    import graft.ext.Multimodal.{decodeMp4, parseMp4}
    val files = Multimodal.asMediaFiles(
      Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/video"))
    val rows = decodeMp4(files).collect()
      .map(r => r.path.split('/').last -> r).toMap
    // the truncated-moov and non-BMFF files must be absent
    assert(rows.keySet == Set("vid_isom.mp4", "vid_large.mp4", "vid_v1.mp4"))
    // spec truth (mirrors tools/gen_mp4_fixtures.py)
    val i = rows("vid_isom.mp4")
    assert((i.brand, i.timescale, i.durationUnits, i.durationMs,
      i.nTracks, i.width, i.height) == (("isom", 1000L, 7425L, 7425L, 2, 640, 360)))
    // largesize mdat BEFORE moov must be skipped via the 64-bit walk
    val l = rows("vid_large.mp4")
    assert((l.brand, l.timescale, l.durationUnits, l.durationMs,
      l.nTracks, l.width, l.height) == (("iso2", 90000L, 123456L, 1371L, 1, 1920, 1080)))
    // version-1 mvhd/tkhd (64-bit times) parse through the v1 branch
    val v = rows("vid_v1.mp4")
    assert((v.timescale, v.durationUnits, v.durationMs, v.width, v.height) ==
      ((600L, 3000L, 5000L, 320, 240)))

    // parser-level hostile inputs
    assert(parseMp4("x", Array.fill[Byte](8)(0)).isEmpty, "short file")
    // box size < 8 (but not the largesize sentinel) must drop, not loop
    val tiny = java.nio.ByteBuffer.allocate(24)
    tiny.putInt(5).put("ftyp".getBytes).putInt(0).putInt(0)
    assert(parseMp4("x", tiny.array()).isEmpty, "undersized box")
    // largesize claiming more than the file must drop
    val big = java.nio.ByteBuffer.allocate(32)
    big.putInt(1).put("mdat".getBytes).putLong(1L << 40)
    assert(parseMp4("x", big.array()).isEmpty, "overrunning largesize")
  }

  test("frameSample: every 2nd frame of the 6-frame video") {
    val frames = Multimodal.frameSample(media, 2).collect()
    assert(frames.map(_.frameIndex).sorted.toSeq == Seq(0, 2, 4))
    // frame 2, pixel (x=1, y=0) = (2*3 + 1*7 + 0*13) % 256 = 13
    val f2 = frames.find(_.frameIndex == 2).get
    assert((f2.pixels(1) & 0xff) == 13)
  }

  test("dHashFrames: sub-grid frames and non-video payloads skipped; " +
      "a hand-built frame hashes by the shared grid spec") {
    import graft.ext.Multimodal.{FrameRow, dHashFrames}
    val vfiles = Multimodal.asMediaFiles(
      Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/video_vhash"))
    val hashed = dHashFrames(Multimodal.frameSample(vfiles, 2)).collect()
    // tiny_6x4 (sub-grid) and notvideo (kind 0) contribute nothing
    assert(!hashed.exists(_.path.contains("tiny_6x4")))
    assert(!hashed.exists(_.path.contains("notvideo")))
    // 10 videos x 6 sampled frames
    assert(hashed.length == 60)
    assert(hashed.map(_.frameIndex).toSet == Set(0, 2, 4, 6, 8, 10))
    // hand frame, 18x8: left half gray 10, right half gray 200 —
    // within a cell row, exactly the (3,4) comparison (cells 0..3 at
    // 10, 5..8 at 200, cell 4 mixed) rises... compute per spec: cell
    // cx spans x where x*9//18 = cx, i.e. 2 px per cell; x<9 → 10,
    // x>=9 → 200; cell 4 covers x=8,9 → avg 105. Rising comparisons
    // (3,4) and (4,5) set bits 3 and 4 of every cy row — but h=8 →
    // single cy per y*8//8=y... use 8 rows so each cy has 1 row.
    val px = Array.tabulate(8 * 18)(i => if (i % 18 < 9) 10.toByte
      else 200.toByte)
    val one = dHashFrames(spark.createDataset(
      Seq(FrameRow("h", 0, 18, 8, px)))(
      org.apache.spark.sql.Encoders.product[FrameRow])).collect()(0)
    val want = (0 until 8).map(cy => (1L << (cy * 8 + 3)) |
      (1L << (cy * 8 + 4))).reduce(_ | _)
    assert(one.dhash == want,
      s"got ${one.dhash.toHexString}, want ${want.toHexString}")
    // sub-grid hand frame is dropped
    assert(dHashFrames(spark.createDataset(
      Seq(FrameRow("t", 0, 6, 4, Array.fill(24)(0.toByte))))(
      org.apache.spark.sql.Encoders.product[FrameRow])).count() == 0)
  }

  test("videoNearDupPairs: the integer-crossed threshold from both " +
      "sides, and the fixture pair set is exactly the planted six") {
    import graft.ext.Multimodal.videoNearDupPairs
    // hand-built: videos a,b with 4 frames; hashes match on 2 of 4 →
    // 2*2 >= 4 passes at τ=1/2 EXACTLY (the boundary); c matches a on
    // 1 of 4 → fails
    val fh = Seq(
      ("a", 0, 0L), ("a", 1, 100L), ("a", 2, 200L), ("a", 3, 300L),
      ("b", 0, 0L), ("b", 1, 101L), ("b", 2, 999L), ("b", 3, -1L),
      ("c", 0, 0L), ("c", 1, 0xFF00L), ("c", 2, 0xFF0000L),
      ("c", 3, 0xFF000000L))
      .toDF("name", "f", "h")
    val pairs = videoNearDupPairs(fh, "name", "f", "h", maxDist = 3)
      .select("id_a", "id_b", "matched_frames")
      .as[(String, String, Long)].collect().toSet
    // a~b: f0 dist 0, f1 dist(100,101)=bitcount(1)... 100^101 = 1 →
    // dist 1 → matched; f2/f3 far → 2 matches of 4 → pair. a~c and
    // b~c: only f0 matches → 1 of 4 → no pair.
    assert(pairs == Set(("a", "b", 2L)))
    // the fixture set: exactly the generator's asserted six pairs
    val vfiles = Multimodal.asMediaFiles(
      Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/video_vhash"))
    val hashes = Multimodal.dHashFrames(Multimodal.frameSample(vfiles, 2))
      .toDF()
      .select(regexp_extract($"path", "[^/]+$", 0).as("name"),
        $"frameIndex".as("f"), $"dhash")
    val got = videoNearDupPairs(hashes, "name", "f", "dhash", maxDist = 3)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    assert(got == Set(
      ("vbase0.grf", "vnear0.grf"), ("vbase1.grf", "vnear1.grf"),
      ("vbase2.grf", "vnear2.grf"), ("vbase3.grf", "vnear3.grf"),
      ("vbase0.grf", "vpart0.grf"), ("vnear0.grf", "vpart0.grf")))
  }

  test("banded-hamming web-scale shape: the pair joins plan with NO " +
      "required broadcast (the PageRankSpec probe discipline)") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import graft.ext.SimSearch
    val hashes = (1L to 200L).map(i => (i, i * 0x9E3779B97F4A7C15L))
      .toDF("id", "h")
    val corpus = (201L to 400L).map(i => (i, i * 0x9E3779B97F4A7C15L))
      .toDF("id", "h")
    // AQE off so executedPlan is the concrete tree; auto-broadcast off
    // models the web-scale regime — a tiny test relation legitimately
    // auto-broadcasts, but nothing in these plans may REQUIRE it
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (df <- Seq(
          SimSearch.hammingBandedPairs(hashes, "id", "h"),
          SimSearch.hammingBandedPairsAgainst(hashes, corpus, "id", "h"),
          SimSearch.hammingBandedPairsAligned(
            hashes.withColumn("f", lit(0)), "id", "f", "h"))) {
        val plan = df.queryExecution.executedPlan
        assert(plan.collect { case b: BroadcastExchangeExec => b }.isEmpty,
          s"banded hamming must shuffle on (band, key), never require " +
            s"a broadcast:\n$plan")
      }
      // positive probe (non-vacuous assertion): a forced broadcast
      // join DOES show up under the same flags
      val forced = hashes.join(
        org.apache.spark.sql.functions.broadcast(corpus), Seq("id"), "inner")
      assert(forced.queryExecution.executedPlan
        .collect { case b: BroadcastExchangeExec => b }.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("videoSeqCopyPairs: shift-invariant where aligned matching is " +
      "blind, minShared boundary exact, complement semantics hold") {
    import graft.ext.Multimodal.{videoNearDupPairs, videoSeqCopyPairs}
    val vfiles = Multimodal.asMediaFiles(
      Multimodal.readMedia(spark, s"${SparkEntry.FixturesDir}/video_seq"))
    val hashes = Multimodal.dHashFrames(Multimodal.frameSample(vfiles, 2))
      .toDF()
      .select(regexp_extract($"path", "[^/]+$", 0).as("name"),
        $"frameIndex".as("f"), $"dhash")
    val seqPairs = videoSeqCopyPairs(hashes, "name", "f", "dhash",
      k = 3, minShared = 2L)
      .as[(String, String, Long)].collect().toSet
    // the +2 shift shares 3 shingles; the +4 shift lands EXACTLY on
    // the boundary; the same-family non-consecutive video shares 0
    assert(seqPairs == Set(("sbase0.grf", "sshift0.grf", 3L),
      ("sbase2.grf", "sshift2.grf", 2L)))
    // COMPLEMENT: the aligned-frame near-dup rule must NOT see the
    // shifted copies (shifted frames are far under per-index
    // alignment) — if it ever does, the two operators stopped being
    // complements and the q332/q335 scaladoc story is stale
    val aligned = videoNearDupPairs(hashes, "name", "f", "dhash",
      maxDist = 3).select("id_a", "id_b")
      .as[(String, String)].collect().toSet
    assert(!aligned.contains(("sbase0.grf", "sshift0.grf")))
    assert(!aligned.contains(("sbase2.grf", "sshift2.grf")))
    // raising minShared past the boundary drops the boundary pair
    val strict = videoSeqCopyPairs(hashes, "name", "f", "dhash",
      k = 3, minShared = 3L)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    assert(strict == Set(("sbase0.grf", "sshift0.grf")))
  }
}
