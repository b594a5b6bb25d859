package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the round-7 extension family: each operator vs a
  * direct in-memory model over randomized inputs (the CDC-family
  * discipline in MergeMixSpec) — fixed seeds so failures reproduce.
  */
class PropertyExtSpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  test("property: binary image parsers never throw under deterministic " +
      "byte-mutation fuzz (the drop-don't-fail discipline, adversarial)") {
    import graft.ext.{Jpeg, Multimodal}
    val rng = new scala.util.Random(42) // fixed seed — reproducible
    def fuzz(orig: Array[Byte],
        parse: Array[Byte] => Option[Any]): Unit = {
      // 200 mutants per fixture: flip 1-8 bytes, truncate, extend
      (0 until 200).foreach { i =>
        val b = orig.clone()
        val mutated = i % 10 match {
          case 8 => b.take(rng.nextInt(b.length + 1)) // truncation
          case 9 => b ++ Array.fill(rng.nextInt(64))(rng.nextInt().toByte)
          case _ =>
            (0 until 1 + rng.nextInt(8)).foreach { _ =>
              b(rng.nextInt(b.length)) = rng.nextInt().toByte
            }
            b
        }
        parse(mutated) // Some or None — must never throw
      }
    }
    def bytesOf(p: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p))
    fuzz(bytesOf(s"${SparkEntry.FixturesDir}/images_png/base2.png"),
      b => Multimodal.parsePngDHash("x", b))
    fuzz(bytesOf(s"${SparkEntry.FixturesDir}/images_png/base3.png"),
      b => Multimodal.parsePngDHash("x", b))
    fuzz(bytesOf(s"${SparkEntry.FixturesDir}/images_jpeg/base3.jpg"),
      b => Jpeg.parseJpegDHash("x", b))
    fuzz(bytesOf(s"${SparkEntry.FixturesDir}/images_jpeg/base1.jpg"),
      b => Jpeg.parseJpegDHash("x", b))
    fuzz(bytesOf(s"${SparkEntry.FixturesDir}/images_dhash/base0.bmp"),
      b => Multimodal.parseBmpDHash("x", b))
    fuzz(bytesOf(s"${SparkEntry.FixturesDir}/images_gif/base2.gif"),
      b => graft.ext.Gif.parseGifDHash("x", b))
    fuzz(bytesOf(s"${SparkEntry.FixturesDir}/images_gif/base3.gif"),
      b => graft.ext.Gif.parseGifDHash("x", b))
    fuzz(bytesOf(s"${SparkEntry.FixturesDir}/audio_formats/fbase2.aif"),
      b => Multimodal.parseAiffAHash("x", b))
    fuzz(bytesOf(s"${SparkEntry.FixturesDir}/audio_formats/ubase0.au"),
      b => Multimodal.parseAuAHash("x", b))
    fuzz(bytesOf(s"${SparkEntry.FixturesDir}/images_tiff/base1.tif"),
      b => Multimodal.parseTiffDHash("x", b))
    fuzz(bytesOf(s"${SparkEntry.FixturesDir}/images_tiff/lzw2.tif"),
      b => Multimodal.parseTiffDHash("x", b))
    fuzz(bytesOf(s"${SparkEntry.FixturesDir}/images_jpeg/prog2.jpg"),
      b => Jpeg.parseJpegDHash("x", b))
    fuzz(bytesOf(s"${SparkEntry.FixturesDir}/images_webp/webp1.webp"),
      b => graft.ext.Vp8l.parseVp8lDHash("x", b))
    fuzz(bytesOf(s"${SparkEntry.FixturesDir}/images_webp/webp2.webp"),
      b => graft.ext.Vp8l.parseVp8lDHash("x", b))
    fuzz(bytesOf(s"${SparkEntry.FixturesDir}/audio_formats/cbase3.flac"),
      b => graft.ext.Flac.parseFlacAHash("x", b))
    fuzz(bytesOf(s"${SparkEntry.FixturesDir}/audio_formats/stms.flac"),
      b => graft.ext.Flac.parseFlacAHash("x", b))
  }

  test("property: coalesceIntervals == in-memory sweep on random interval sets") {
    val genIv = Gen.listOfN(60, for {
      k <- Gen.oneOf("a", "b", "c")
      s <- Gen.choose(0L, 50L)
      len <- Gen.choose(0L, 12L)
    } yield (k, s, s + len))
    (0 until 10).foreach { i =>
      val ivs = sample(genIv, 21L + i)
      val got = graft.operators.Intervals
        .coalesceIntervals(ivs.toDF("k", "s", "e").repartition(7), "k", "s", "e")
        .select("k", "span_start", "span_end", "n_merged")
        .as[(String, Long, Long, Long)].collect().toSet
      val want = ivs.groupBy(_._1).flatMap { case (k, rows) =>
        val sorted = rows.map(r => (r._2, r._3)).sortBy(identity)
        val spans = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
        sorted.foreach { case (s, e) =>
          spans.lastOption match {
            case Some((ss, se, n)) if s <= se =>
              spans(spans.size - 1) = (ss, math.max(se, e), n + 1)
            case _ => spans += ((s, e, 1L))
          }
        }
        spans.map { case (ss, se, n) => (k, ss, se, n) }
      }.toSet
      assert(got == want, s"iteration $i")
    }
  }

  test("property: apportion sums to budget; every alloc is quota or quota+1") {
    val genStrata = Gen.listOfN(120, Gen.oneOf("s0", "s1", "s2", "s3", "s4", "s5"))
    (0 until 10).foreach { i =>
      val rows = sample(genStrata, 33L + i)
      val budget = sample(Gen.choose(0L, 200L), 77L + i)
      val counts = rows.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val total = rows.size.toLong
      val got = graft.operators.Sampling
        .apportion(rows.map(Tuple1(_)).toDF("s"), "s", budget)
        .as[(String, Long, Long)].collect()
      assert(got.map(_._3).sum == budget, s"iteration $i: sum != budget")
      got.foreach { case (k, n, alloc) =>
        assert(n == counts(k), s"iteration $i: counts wrong for $k")
        val quota = budget * n / total
        assert(alloc == quota || alloc == quota + 1,
          s"iteration $i: $k alloc $alloc not in {$quota, ${quota + 1}}")
      }
    }
  }

  test("property: funnelStages == in-memory ordered walk on random event streams") {
    val stages = Seq("v", "c", "s", "p")
    val genEvents = Gen.listOfN(150, for {
      u <- Gen.choose(0L, 11L)
      t <- Gen.choose(0L, 30L) // deliberate timestamp ties
      e <- Gen.oneOf("v", "c", "s", "p", "x", "y")
    } yield (u, t, e))
    (0 until 10).foreach { i =>
      val evs = sample(genEvents, 55L + i)
      val got = graft.operators.Funnel
        .funnelStages(evs.toDF("u", "t", "e").repartition(9), "u", "t", "e", stages)
        .as[(Int, Long)].collect().toMap
      val want = evs
        .map { case (u, t, e) => (u, t, stages.indexOf(e) + 1) }
        .filter(_._3 > 0)
        .groupBy(_._1).values.map { rows =>
          var stage = 0
          rows.map(r => (r._2, r._3)).sortBy(identity)
            .foreach { case (_, c) => if (c == stage + 1) stage += 1 }
          stage
        }
        .groupBy(identity).map { case (st, xs) => st -> xs.size.toLong }
      assert(got == want, s"iteration $i: $got vs $want")
    }
  }

  test("property: topPCoverage == in-memory nucleus rule on random weighted sets") {
    val genRows = Gen.listOfN(50, for {
      k <- Gen.oneOf("a", "b")
      w <- Gen.choose(0L, 30L)
      id <- Gen.choose(0, 10000)
    } yield (k, s"i$id", w))
    (0 until 10).foreach { i =>
      val rows = sample(genRows, 91L + i).distinctBy(r => (r._1, r._2))
      val got = graft.operators.Sampling
        .topPCoverage(rows.toDF("k", "id", "w").repartition(7), "k",
          col("w"), col("id"), num = 3, den = 4)
        .select("k", "id").as[(String, String)].collect().toSet
      // .toSeq first: flatMap on a Map returning pairs would re-key by
      // the first tuple element and silently keep one row per group
      val want = rows.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
        val sorted = rs.sortBy(r => (-r._3, r._2))
        val tot = rs.map(_._3).sum
        var cum = 0L
        sorted.flatMap { r =>
          val keep = 4L * cum < 3L * tot
          cum += r._3
          if (keep) Some((k, r._2)) else None
        }
      }.toSet
      assert(got == want, s"case $i")
    }
  }

  test("property: transitions == in-memory pair walk on random event streams") {
    val genEv = Gen.listOfN(80, for {
      u <- Gen.choose(1L, 6L)
      o <- Gen.choose(0L, 10000L)
      s <- Gen.oneOf("v", "c", "p")
    } yield (u, o, s))
    (0 until 10).foreach { i =>
      val evs = sample(genEv, 133L + i).distinctBy(e => (e._1, e._2))
      val got = graft.operators.Profile
        .transitions(evs.toDF("u", "o", "s").repartition(5), "u",
          Seq(col("o")), col("s"))
        .as[(String, String, Long)].collect()
        .map(r => ((r._1, r._2), r._3)).toMap
      val want = evs.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        val ordered = rs.sortBy(_._2).map(_._3)
        ordered.zip(ordered.drop(1))
      }.groupBy(identity).map { case (p, xs) => (p, xs.size.toLong) }
      assert(got == want, s"case $i")
    }
  }

  test("property: scaleMinMax == in-memory formula; output invariant under repartition") {
    val genRows = Gen.listOfN(60, for {
      k <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(-100L, 100L)
      id <- Gen.choose(0L, 100000L)
    } yield (k, id, v))
    (0 until 10).foreach { i =>
      val rows = sample(genRows, 57L + i).distinctBy(_._2)
      val got = graft.operators.Feature
        .scaleMinMax(rows.toDF("k", "id", "v").repartition(9), "k", col("v"))
        .select("id", "scaled").as[(Long, Long)].collect().toMap
      val want = rows.groupBy(_._1).flatMap { case (_, rs) =>
        val (mn, mx) = (rs.map(_._3).min, rs.map(_._3).max)
        rs.map(r => r._2 ->
          (if (mx > mn) ((r._3 - mn) * 1000L) / (mx - mn) else 0L))
      }
      assert(got == want, s"case $i")
    }
  }

  test("property: madRobust matches the sorted-vector model (disc percentile convention)") {
    // model mirrors percentile_disc: smallest value whose cume_dist >= 0.5
    def disc(xs: Seq[Long]): Long = {
      val s = xs.sorted
      s((math.ceil(0.5 * s.size) - 1).toInt.max(0))
    }
    val genRows = Gen.listOfN(40, for {
      k <- Gen.oneOf("a", "b")
      v <- Gen.choose(-50L, 50L)
    } yield (k, v))
    (0 until 10).foreach { i =>
      val rows = sample(genRows, 203L + i)
      val got = graft.operators.Profile
        .madRobust(rows.toDF("k", "v").repartition(5), "k", col("v"))
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val want = rows.groupBy(_._1).map { case (k, rs) =>
        val vs = rs.map(_._2)
        val med = disc(vs)
        k -> ((vs.size.toLong, med, disc(vs.map(v => math.abs(v - med)))))
      }
      assert(got == want, s"case $i")
    }
  }

  test("property: ewma fold == in-memory recurrence on random non-negative series") {
    val genSeries = Gen.listOfN(40, for {
      k <- Gen.oneOf("m0", "m1", "m2")
      o <- Gen.choose(0L, 99L)
      y <- Gen.choose(0L, 100000L)
    } yield (k, o, y))
    (0 until 10).foreach { i =>
      // one point per (key, order): duplicate orders make the walk ill-defined
      val pts = sample(genSeries, 91L + i).groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      val got = graft.operators.Profile
        .ewma(pts.toDF("k", "o", "y").repartition(5), "k", col("o"), col("y"), shift = 3)
        .as[(String, Int, Long)].collect().map(r => r._1 -> r._3).toMap
      val want = pts.groupBy(_._1).map { case (k, rows) =>
        val ys = rows.sortBy(_._2).map(_._3)
        k -> ys.tail.foldLeft(ys.head)((acc, y) => (y + 7 * acc) >> 3)
      }
      assert(got == want, s"iteration $i")
    }
  }

  // ── real-format decoder round trips: write randomized files at the
  // byte level IN THE TEST (independent of the fixture generators),
  // parse with the production parser, compare against the pixel/spec
  // formula; then cut the bytes at random points — a truncated file
  // must return None or the full-file answer, and must NEVER throw ──

  test("property: parseBmp round-trips randomized images; random truncation never throws") {
    import java.nio.{ByteBuffer, ByteOrder}
    def writeBmp(w: Int, h: Int, bits: Int, topDown: Boolean,
        pix: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val px = bits / 8
      val stride = (w * px + 3) / 4 * 4
      val size = 54 + stride * h
      val buf = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte).putInt(size).putInt(0).putInt(54)
      buf.putInt(40).putInt(w).putInt(if (topDown) -h else h)
        .putShort(1).putShort(bits.toShort).putInt(0).putInt(0)
        .putInt(2835).putInt(2835).putInt(0).putInt(0)
      val ys = if (topDown) 0 until h else (h - 1) to 0 by -1
      for (y <- ys) {
        for (x <- 0 until w) {
          val (r, g, b) = pix(x, y)
          buf.put(b.toByte).put(g.toByte).put(r.toByte)
          if (bits == 32) buf.put(((x + y) % 256).toByte)
        }
        buf.position(buf.position() + (stride - w * px))
      }
      buf.array()
    }
    val genCfg = for {
      w <- Gen.choose(1, 40); h <- Gen.choose(1, 24)
      bits <- Gen.oneOf(24, 32); td <- Gen.oneOf(true, false)
      a <- Gen.choose(1, 13); b <- Gen.choose(0, 255); c <- Gen.choose(1, 17)
    } yield (w, h, bits, td, a, b, c)
    for (i <- 0 until 25) {
      val (w, h, bits, td, a, b0, c) = sample(genCfg, 9100L + i)
      def pix(x: Int, y: Int) =
        ((x * a + b0) % 256, (y * c + a) % 256, (x * c + y * a + b0) % 256)
      val bytes = writeBmp(w, h, bits, td, pix)
      val r = graft.ext.Multimodal.parseBmp("p", bytes)
        .getOrElse(fail(s"iteration $i: valid BMP did not parse"))
      val all = for (x <- 0 until w; y <- 0 until h) yield pix(x, y)
      assert((r.width, r.height, r.bits, r.nPx) == ((w, h, bits, w.toLong * h)), s"i=$i")
      assert(r.sumR == all.map(_._1.toLong).sum && r.sumG == all.map(_._2.toLong).sum
        && r.sumB == all.map(_._3.toLong).sum, s"i=$i sums")
      assert(r.peakLumaMilli ==
        all.map { case (rr, gg, bb) => rr * 299L + gg * 587L + bb * 114L }.max, s"i=$i peak")
      assert(r.topRowSumR == (0 until w).map(x => pix(x, 0)._1.toLong).sum,
        s"i=$i topRow (topDown=$td)")
      // truncation sweep: every prefix must be None (bounds-checked), not a throw
      for (cut <- Seq(1, 13, 53, 54, bytes.length / 2, bytes.length - 1)
           if cut < bytes.length)
        assert(graft.ext.Multimodal.parseBmp("p", bytes.take(cut)).isEmpty, s"i=$i cut=$cut")
    }
  }

  test("property: parseMp4 round-trips randomized box trees; random truncation never throws") {
    import java.nio.{ByteBuffer, ByteOrder}
    def box(t: String, payload: Array[Byte], large: Boolean = false): Array[Byte] = {
      if (large) {
        val b = ByteBuffer.allocate(16 + payload.length).order(ByteOrder.BIG_ENDIAN)
        b.putInt(1).put(t.getBytes("ISO-8859-1")).putLong(16L + payload.length).put(payload)
        b.array()
      } else {
        val b = ByteBuffer.allocate(8 + payload.length).order(ByteOrder.BIG_ENDIAN)
        b.putInt(8 + payload.length).put(t.getBytes("ISO-8859-1")).put(payload)
        b.array()
      }
    }
    def mvhd(ts: Int, dur: Long, v1: Boolean): Array[Byte] = {
      val b = ByteBuffer.allocate(if (v1) 112 else 100).order(ByteOrder.BIG_ENDIAN)
      if (v1) { b.putInt(0x01000000); b.putLong(0); b.putLong(0); b.putInt(ts); b.putLong(dur) }
      else { b.putInt(0); b.putInt(0); b.putInt(0); b.putInt(ts); b.putInt(dur.toInt) }
      b.putInt(0x00010000).putShort(0x0100.toShort).put(new Array[Byte](10))
      Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000).foreach(b.putInt)
      b.put(new Array[Byte](24)).putInt(99)
      box("mvhd", b.array())
    }
    def tkhd(id: Int, dur: Long, w: Int, h: Int, v1: Boolean): Array[Byte] = {
      val b = ByteBuffer.allocate(if (v1) 104 else 92).order(ByteOrder.BIG_ENDIAN)
      if (v1) { b.putInt(0x01000007); b.putLong(0); b.putLong(0); b.putInt(id); b.putInt(0); b.putLong(dur) }
      else { b.putInt(7); b.putInt(0); b.putInt(0); b.putInt(id); b.putInt(0); b.putInt(dur.toInt) }
      b.put(new Array[Byte](8)).putShort(0).putShort(0).putShort(0).putShort(0)
      Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000).foreach(b.putInt)
      b.putInt(w << 16).putInt(h << 16)
      box("trak", box("tkhd", b.array()))
    }
    val genCfg = for {
      ts <- Gen.choose(1, 1000000); dur <- Gen.choose(0L, 1L << 40)
      v1 <- Gen.oneOf(true, false); large <- Gen.oneOf(true, false)
      nTrk <- Gen.choose(0, 4); w <- Gen.choose(0, 4000); h <- Gen.choose(0, 3000)
    } yield (ts, dur, v1, large, nTrk, w, h)
    for (i <- 0 until 25) {
      val (ts, dur0, v1, large, nTrk, w, h) = sample(genCfg, 4400L + i)
      val dur = if (v1) dur0 else dur0 & 0xffffffffL // v0 stores u32
      val traks = (1 to nTrk).map(t => tkhd(t, dur, w, h, v1))
        .foldLeft(Array.empty[Byte])(_ ++ _)
      val bytes = box("ftyp", "isom".getBytes ++ Array.fill[Byte](4)(0) ++ "isom".getBytes) ++
        box("mdat", Array.fill[Byte](37)(0xAB.toByte), large) ++
        box("moov", mvhd(ts, dur, v1) ++ traks)
      val r = graft.ext.Multimodal.parseMp4("p", bytes)
        .getOrElse(fail(s"iteration $i: valid MP4 did not parse"))
      assert((r.brand, r.timescale, r.durationUnits, r.nTracks) ==
        (("isom", ts.toLong, dur, nTrk)), s"i=$i")
      assert(r.durationMs == dur * 1000L / ts, s"i=$i durationMs")
      assert((r.width, r.height) == ((if (nTrk == 0) 0 else w, if (nTrk == 0) 0 else h)), s"i=$i dims")
      // truncation sweep: None or the full answer, never a throw, never garbage
      for (cut <- Seq(3, 9, 17, bytes.length / 3, bytes.length / 2, bytes.length - 1)
           if cut < bytes.length) {
        val p = graft.ext.Multimodal.parseMp4("p", bytes.take(cut))
        assert(p.isEmpty || p.get == r.copy(path = p.get.path), s"i=$i cut=$cut: $p")
      }
    }
  }

  test("property: robotsDecide == in-memory longest-prefix model on random policies") {
    import graft.ext.UrlCanon
    val prefixes = Seq("/", "/a", "/a/b", "/ab", "/b", "/a/b/c", "/abc")
    val paths = Seq("", "/", "/a", "/a/", "/a/b", "/a/b/", "/ab", "/abc/d",
      "/a/b/c", "/a/b/cd", "/b/x", "/c", "/a//")
    val genRules = Gen.listOfN(12, for {
      h <- Gen.oneOf("a.com", "b.com")
      p <- Gen.oneOf(prefixes)
      allow <- Gen.oneOf(true, false)
    } yield (h, p, allow))
    val genFetches = Gen.listOfN(30, for {
      h <- Gen.oneOf("a.com", "b.com", "c.com")
      p <- Gen.oneOf(paths)
    } yield s"http://$h$p")
    def canonPath(raw: String): String = {
      val p = raw.replaceAll("/+$", "")
      if (p.isEmpty) "/" else p
    }
    for (i <- 0 until 10) {
      val rules = sample(genRules, 700L + i)
      val fetches = sample(genFetches, 800L + i).zipWithIndex
        .map { case (u, j) => (j.toLong, u) }
      val got = UrlCanon.robotsDecide(
          fetches.toDF("id", "url"), "id", "url",
          rules.toDF("host", "prefix", "allow"))
        .select("id", "decision").as[(Long, String)].collect().toMap
      val want = fetches.map { case (id, url) =>
        val host = url.stripPrefix("http://").takeWhile(_ != '/')
        val path = canonPath(url.stripPrefix("http://").dropWhile(_ != '/'))
        val m = rules.filter(r => r._1 == host && path.startsWith(r._2))
        id -> (if (m.isEmpty) "allow"
               else {
                 // mirror the operator's rank: length DESC, prefix ASC,
                 // allow DESC (allow wins a same-prefix tie)
                 val best = m.minBy(r => (-r._2.length, r._2, !r._3))
                 if (best._3) "allow" else "deny"
               })
      }.toMap
      assert(got == want, s"seed=$i diverged:\n got=$got\nwant=$want")
    }
  }

  test("property: canonicalUrl is IDEMPOTENT and normal-form on random messy URLs") {
    import graft.ext.UrlCanon
    // generator covers every variation axis the canonicalizer claims to
    // normalize: scheme/host case, userinfo, explicit default + odd
    // ports, duplicate trailing slashes, unordered query params,
    // fragments — plus occasional non-URL garbage
    val genUrl: Gen[String] = for {
      scheme <- Gen.oneOf("http", "HTTP", "https", "HTTPS", "hTtPs")
      user <- Gen.oneOf("", "u@", "a:b@")
      host <- Gen.oneOf("Example.COM", "www.site.org", "A.B.C")
      port <- Gen.oneOf("", ":80", ":443", ":8080", ":65000")
      path <- Gen.oneOf("", "/", "/P/q", "/P/q/", "/P//", "/CaseSensitive")
      qparams <- Gen.someOf(Seq("b=2", "a=1", "z=9", "a=0"))
      frag <- Gen.oneOf("", "#f", "#Frag", "#/route?tab=2", "#a?b=1")
      junk <- Gen.frequency(9 -> Gen.const(""), 1 -> Gen.const("junk "))
    } yield {
      val q = if (qparams.isEmpty) "" else qparams.mkString("?", "&", "")
      s"$junk$scheme://$user$host$port$path$q$frag"
    }
    val urls = (0 until 12).map(i => sample(Gen.listOfN(40, genUrl), 400L + i))
      .flatten.distinct
    val rows = urls.toDF("url")
      .select(col("url"), UrlCanon.canonicalUrl(col("url")).as("c1"))
      .withColumn("c2", UrlCanon.canonicalUrl(col("c1")))
      .as[(String, Option[String], Option[String])].collect()
    assert(rows.nonEmpty && rows.exists(_._2.isDefined) && rows.exists(_._2.isEmpty),
      "generator must produce both URLs and junk")
    rows.foreach { case (u, c1, c2) =>
      assert(c1 == c2, s"canonicalUrl not idempotent: $u -> $c1 -> $c2")
      c1.foreach { c =>
        // normal form: lowercase scheme+host, no userinfo, no fragment,
        // no default port, no trailing slash (except root), sorted query
        val scheme = c.takeWhile(_ != ':')
        assert(scheme == scheme.toLowerCase, s"scheme case survives: $c")
        assert(!c.contains("@"), s"userinfo survives: $c")
        assert(!c.contains("#"), s"fragment survives: $c")
        assert(!c.contains(":80/") && !c.endsWith(":80") || scheme != "http",
          s"http default port survives: $c")
        val query = c.dropWhile(_ != '?').drop(1)
        if (query.nonEmpty)
          assert(query.split("&").toSeq == query.split("&").toSeq.sorted,
            s"query not sorted: $c")
      }
    }
  }

  test("property: paragraphs rejoin == mainText on random hostile HTML") {
    import graft.ext.HtmlExtract
    // The two extraction chains differ ONLY in how block boundaries are
    // rendered (break vs space) — so space-joining the paragraphs must
    // reproduce mainText EXACTLY, on any input. This ties the chains
    // together: an edit to one pass that misses the other diverges
    // here, not in production. (U+0001 in raw input is the documented
    // out-of-contract char — the paragraph separator.)
    val genFrag: Gen[String] = Gen.oneOf(
      Gen.oneOf("plain words", "a < b", "x &amp; y", "&lt;tag&gt;", "q&#39;s",
        "spaced   out", ""),
      Gen.oneOf("<p>", "</p>", "<div class=\"c\">", "</div>", "<br>",
        "<b>", "</b>", "<a href=\"u\">", "</a>", "<li>", "</li>",
        "<!DOCTYPE html>"),
      Gen.oneOf(
        "<script>if(a<b){x=\"</div>\";}</script>",
        "<style>p > a { content: \"<q>\"; }</style>",
        "<!-- hidden <p>tags</p> -->",
        "<script>unclosed to EOS",
        "<!-- unclosed comment",
        "<a href=\"trunc"))
    val genHtml: Gen[String] =
      Gen.listOfN(12, genFrag).map(_.mkString(" "))
    val htmls = (0 until 12).flatMap(i =>
      sample(Gen.listOfN(40, genHtml), 900L + i)).distinct
    val rows = htmls.toDF("html")
      .select(col("html"), HtmlExtract.mainText(col("html")).as("mt"),
        array_join(HtmlExtract.paragraphs(col("html")), " ").as("pj"))
      .as[(String, String, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (h, mt, pj) =>
      assert(mt == pj, s"chains diverge on: $h\n mainText=$mt\n paraJoin=$pj")
    }
  }
}
