package graft

import org.apache.spark.sql.functions._

import graft.ext.{ConnectedComponents, Dedup, SimHash, SimSearch, TextAnalysis}

/** Extension-operator specs: dedup recall vs ground truth, simhash
  * invariants, similarity-search correctness + LSH recall, text stats,
  * language ID.
  */
class ExtSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")

  // ── shingles / tokens ────────────────────────────────────────────────
  test("shingles: consecutive 3-grams; short docs yield empty set") {
    val df = Seq("one two three four", "a b").toDF("text")
    val sh = df.select(TextAnalysis.shingleSet($"text", 3).as("s")).as[Seq[String]].collect()
    assert(sh(0) == Seq("one two three", "two three four"))
    assert(sh(1).isEmpty)
  }

  test("fingerprint is whitespace/case/punct-insensitive") {
    val df = Seq("Hello,  World!", "hello world").toDF("text")
    val fps = df.select(TextAnalysis.fingerprint(TextAnalysis.tokens($"text"))).as[String].collect()
    assert(fps(0) == fps(1))
  }

  // ── exact dedup ──────────────────────────────────────────────────────
  test("exactDedup: groups byte-identical content, keeps min id") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("id", "text")
    val out = Dedup.exactDedup(df, "id", md5($"text"))
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  // ── minhash-LSH vs exact ground truth ───────────────────────────────
  test("minhash-LSH near-dup pairs == exact all-pairs Jaccard at threshold (sf0.001)") {
    val lsh = Dedup.nearDupPairsMinhash(docs, "doc_id", "text", 3, 128, 32, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // exact all-pairs over shingle sets (fine at 50 docs)
    val base = docs.select($"doc_id", TextAnalysis.shingleSet($"text", 3).as("sh"))
    val exact = base.as("a").join(base.as("b"), $"a.doc_id" < $"b.doc_id")
      .withColumn("i", size(array_intersect($"a.sh", $"b.sh")))
      .withColumn("u", size($"a.sh") + size($"b.sh") - $"i")
      .filter($"i".cast("double") / $"u".cast("double") >= 0.8)
      .select($"a.doc_id", $"b.doc_id").as[(Long, Long)].collect().toSet
    assert(lsh == exact)
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
  }

  // ── simhash ─────────────────────────────────────────────────────────
  test("simhash: identical docs have hamming 0 and appear as a pair") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "completely different words entirely unrelated content here now"))
      .toDF("doc_id", "text")
    val pairs = SimHash.nearDupPairsSimhash(df, "doc_id", "text", 3, 8)
      .as[(Long, Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 0L)))
  }

  test("simhash: portable h48 matches a reference fold computed in Scala") {
    // one doc, one shingle -> the simhash of a single feature is the
    // feature's bit pattern itself
    val df = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    // feature set deliberately placed FIRST: the explicit idCol must
    // key the join regardless of column order
    val v = SimHash.withSimhash(
      df.select(TextAnalysis.shingleSet($"text", 3).as("f"), $"doc_id"),
      "doc_id", "f", "bits", "v")
      .select("v").as[Long].head()
    val md5hex = java.security.MessageDigest.getInstance("MD5")
      .digest("alpha beta gamma".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val h48 = md5hex.take(12).foldLeft(0L)((acc, c) => acc * 16 + Character.digit(c, 16))
    assert(v == h48)
  }

  test("withLangGuess: argmax per profile, declaration-order ties, und on zero hits and null text") {
    val df = Seq(
      (1L, "the cat and the dog is in that house with it for now"),
      (2L, "el que de la y los con una por las"),
      (3L, "zzz qqq xxx"),
      (4L, "la la la"), // 'la' scores 3 in es, fr AND it -> first declared wins
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.withLangGuess(df, "text", "g")
      .select("doc_id", "g").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "es", 3L -> "und", 4L -> "es", 5L -> "und"))
  }

  test("rollingFingerprint: order-sensitive, matches a reference fold in Scala, stays in 64-bit range") {
    def h48(s: String): Long = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
      .foldLeft(0L)((acc, c) => acc * 16 + Character.digit(c, 16))
    def ref(toks: Seq[String]): Long =
      toks.foldLeft(0L)((acc, t) => (acc * TextAnalysis.RollBase + h48(t)) % TextAnalysis.RollMod)
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"), (3L, ""))
      .toDF("doc_id", "text")
    val got = df.select($"doc_id",
        TextAnalysis.rollingFingerprint(TextAnalysis.tokens($"text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == ref(Seq("alpha", "beta", "gamma")))
    assert(got(2L) == ref(Seq("gamma", "beta", "alpha")))
    assert(got(1L) != got(2L), "transposed tokens must fingerprint differently")
    assert(got(3L) == 0L)
  }

  // ── similarity search ───────────────────────────────────────────────
  test("bruteForceTopK: finds the planted nearest neighbor, excludes self") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)), // nearest to 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = SimSearch.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), "vec_id", "embedding", 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(out.head == 1L)
    assert(!out.contains(0L))
  }

  test("lshTopK: bucketed variant reaches usable recall vs brute force (sf0.001)") {
    val queries = emb.filter($"vec_id" % 10 === 0)
    val exact = SimSearch.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = SimSearch.lshTopK(emb, queries, "vec_id", "embedding", 5,
      dim = 64, bits = 3, tables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall > 0.5, s"recall $recall too low for 8 tables x 3 bits")
    // and every approx hit must be a real corpus pair scored identically:
    assert(approx.forall { case (q, n) => q != n })
  }

  test("hyperplane signatures: per-column fold form == wide-aggregate matrix form") {
    // lshTopK/nearDupPairsCosineLsh compute signatures via the
    // codegen'd matrix aggregate; hyperplaneSig is the reference
    // per-column formulation. Same seeds must give identical buckets:
    // reconstruct each row's (table, sig) keys both ways and compare.
    val (bits, tables) = (3, 5)
    val sigCols = (0 until tables).map(t =>
      SimSearch.hyperplaneSig($"embedding", 64, bits, seed = 7L + t) * tables + t)
    val viaFold = emb.limit(50)
      .select($"vec_id", explode(array(sigCols: _*)).as("__k"))
      .as[(Long, Long)].collect().toSet
    // the matrix path is private; observe it through lshTopK's bucket
    // join by self-searching with k large enough to keep every
    // candidate — identical buckets <=> identical candidate sets, and
    // with these tiny parameters a single flipped sign bit would move
    // a row to a different bucket and change the candidate set
    val small = emb.limit(50)
    val viaMatrix = SimSearch.lshTopK(small, small, "vec_id", "embedding",
        k = 1000, dim = 64, bits = bits, tables = tables)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val expected = {
      val byBucket = viaFold.groupBy(_._2).values.toSeq
      (for {
        bucket <- byBucket; (a, _) <- bucket; (b, _) <- bucket; if a != b
      } yield (a, b)).toSet
    }
    assert(viaMatrix == expected)
  }

  test("ivfTopK: exhaustive mode == brute force; probing cuts candidates at bounded recall cost") {
    val queries = emb.filter($"vec_id" % 10 === 0)
    val exact = SimSearch.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(_.toString).toSet
    val full = SimSearch.ivfTopK(emb, queries, "vec_id", "embedding", 5, nlist = 8, nprobe = 8)
      .collect().map(_.toString).toSet
    assert(full == exact)
    val probed = SimSearch.ivfTopK(emb, queries, "vec_id", "embedding", 5, nlist = 8, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exactPairs = SimSearch.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exactPairs intersect probed).size.toDouble / exactPairs.size
    assert(recall > 0.2, s"recall $recall collapsed for nprobe=2 of 8")
    // every probed hit is a real scored corpus pair
    assert(probed.forall { case (q, n) => q != n })
  }

  test("ivfTopK: Lloyd-refined centroids keep the exhaustive mode exact") {
    val queries = emb.filter($"vec_id" % 10 === 0)
    val exact = SimSearch.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(_.toString).toSet
    val refined = SimSearch.ivfTopK(emb, queries, "vec_id", "embedding", 5,
        nlist = 8, nprobe = 8, lloydIters = 2)
      .collect().map(_.toString).toSet
    // nprobe = nlist is exhaustive no matter where the centroids sit
    assert(refined == exact)
    // and refinement actually moves the partition: list populations
    // differ from the sampled-anchor partition for some vectors
    val probedSampled = SimSearch.ivfTopK(emb, queries, "vec_id", "embedding", 5,
        nlist = 8, nprobe = 1).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val probedRefined = SimSearch.ivfTopK(emb, queries, "vec_id", "embedding", 5,
        nlist = 8, nprobe = 1, lloydIters = 2).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    assert(probedSampled != probedRefined, "Lloyd iterations changed no assignment at all")
  }

  test("ivfTopK: the q171 degradation contract survives refactors — on the " +
      "adversarial clustered fixture, nprobe=1 without Lloyd recalls STRICTLY " +
      "less than nprobe=3 + 2 Lloyd iters") {
    // The q171 oracle pins the measured numbers (445/445 vs 372/445);
    // this spec pins the INEQUALITY itself, so a refactor of seeding or
    // assignment that accidentally 'fixes' the documented degradation
    // (or degrades the healthy config) fails here rather than silently
    // invalidating the certified nlist/nprobe guidance.
    val cemb = spark.read.parquet(s"${SparkEntry.FixturesDir}/embeddings_clustered.parquet")
    val qs = cemb.filter($"vec_id" % 43 === 0 || $"vec_id" >= 1045)
    val exact = SimSearch.bruteForceTopK(cemb, qs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(nprobe: Int, lloyd: Int): Double = {
      val got = SimSearch.ivfTopK(cemb, qs, "vec_id", "embedding", 5,
          nlist = 8, nprobe = nprobe, lloydIters = lloyd)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val healthy = recallOf(nprobe = 3, lloyd = 2)
    val raw = recallOf(nprobe = 1, lloyd = 0)
    assert(healthy >= 0.9, s"healthy config fell out of contract: $healthy")
    assert(raw < healthy,
      s"degradation disappeared: nprobe=1 raw recall $raw >= healthy $healthy — " +
        "the hub-and-spoke fixture no longer splits true neighbors across lists")
    assert(raw < 0.9, s"nprobe=1 raw recall $raw unexpectedly inside the 0.9 band")
  }

  test("repeatedSpans: planted cross-doc passage recovered at exact token " +
      "coordinates; doc-INTERNAL repetition is not flagged (df counts docs)") {
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      // passage at token positions 3..12 (after two lead-in tokens)
      (1L, s"intro words $passage trailing tail"),
      // passage at positions 1..10
      (2L, s"$passage other unrelated closing text here"),
      // doc-internal repetition of a DIFFERENT 8-gram, twice in ONE doc:
      // df(distinct docs) = 1 → must NOT be flagged
      (3L, "one two three four five six seven eight filler one two three four five six seven eight"),
      (4L, "completely unrelated vocabulary without any shared window at all")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(docs, "doc_id", "text", n = 8, minDf = 2)
      .select($"doc_id", $"span_start", $"span_end", $"n_merged")
      .as[(Long, Long, Long, Long)].collect().toSet
    // the 10-token passage yields 3 flagged 8-windows per doc, merged
    // into ONE span covering exactly the passage tokens
    assert(spans == Set((1L, 3L, 12L, 3L), (2L, 1L, 10L, 3L)),
      s"got $spans")
  }

  test("repeatedSpans: overlap-merge keeps separate spans separate and " +
      "counts merged windows") {
    // two repeated passages in one doc separated by >n unique tokens
    // stay TWO spans; a doc pair sharing both passages gets both
    val p1 = "a1 a2 a3 a4 a5 a6 a7 a8"
    val p2 = "b1 b2 b3 b4 b5 b6 b7 b8 b9"
    val docs = Seq(
      (10L, s"$p1 u1 u2 u3 u4 u5 u6 u7 u8 u9 $p2"),
      (20L, s"x0 $p1 y1 y2 y3 y4 y5 y6 y7 y8 y9 $p2 z9")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(docs, "doc_id", "text", n = 8, minDf = 2)
      .select($"doc_id", $"span_start", $"span_end", $"n_merged")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(spans == Set(
      (10L, 1L, 8L, 1L), (10L, 18L, 26L, 2L),
      (20L, 2L, 9L, 1L), (20L, 19L, 27L, 2L)), s"got $spans")
  }

  test("ngramJaccardPairs: inverted-index exact pairs == minhash-verified pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val viaLsh = Dedup.nearDupPairsMinhash(docs, "doc_id", "text", 3, 128, 32, 0.8)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(exact == viaLsh)
  }

  test("ngramJaccardPairs: df-capped postings still find rare-shingle near-dups") {
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8, maxShingleDf = Some(10))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(capped) || capped.subsetOf(exact))
    assert(capped.nonEmpty)
  }

  test("ngramJaccardPairs: permille cap at 100% is a no-op; tight cap only prunes") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    // cap = n_docs (1000 permille) keeps every posting: identical output
    val loose = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8,
        maxShingleDfPermille = Some(1000))
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(loose == exact)
    // a tight relative cap can only shrink intersections, never add pairs
    val tight = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8,
        maxShingleDfPermille = Some(10))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(tight.subsetOf(exact.map { case (a, b, _) => (a, b) }))
  }

  test("nearDupPairsCosineLsh: forced LSH path equals the all-pairs truth on the sf0.001 corpus") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val exact = SimSearch.nearDupPairsCosine(emb, "vec_id", "embedding", 0.45)
      .select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect().toSet
    // exactMaxRows = 0 disables the small-corpus fallback: this is the
    // certification of the bucketed path itself (with τ-derived params)
    val viaLsh = SimSearch.nearDupPairsCosineLsh(emb, "vec_id", "embedding", 0.45, 64,
        exactMaxRows = 0)
      .select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)].collect().toSet
    assert(viaLsh == exact)
  }

  test("nearDupPairsCosineLsh: small corpus auto-selects the exact plan; lshParamsForTau prunes harder as tau rises") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    // below the threshold the declared call must plan NO bucket join
    // (no posexplode/signature aggregate) — the exact cartesian wins
    val autoPlan = SimSearch.nearDupPairsCosineLsh(emb, "vec_id", "embedding", 0.45, 64)
      .queryExecution.executedPlan.toString
    assert(autoPlan.contains("BroadcastNestedLoopJoin") || autoPlan.contains("CartesianProduct"))
    // τ-aware selection: candidate-volume proxy tables/2^bits must fall
    // as tau rises, and the field budget must hold
    val (bLo, tLo) = SimSearch.lshParamsForTau(0.45)
    val (bHi, tHi) = SimSearch.lshParamsForTau(0.9)
    assert(bLo * tLo <= 96 && bHi * tHi <= 96)
    assert(tHi / math.pow(2.0, bHi) < tLo / math.pow(2.0, bLo) / 4,
      s"tau=0.9 params ($bHi,$tHi) should prune >=4x harder than tau=0.45 ($bLo,$tLo)")
  }

  test("nearDupPairsCosine: threshold pairs are exactly the brute-force >= tau set") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val pairs = SimSearch.nearDupPairsCosine(vecs, "vec_id", "embedding", 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("saltedSum == plain groupBy sum (two-phase algebraic equivalence)") {
    import graft.operators.SkewSalt
    val ev = spark.read.parquet(s"$sf0001/events.parquet")
    val salted = SkewSalt.saltedSum(ev, Seq("event_type"),
      $"value".cast("decimal(12,2)"), "total", $"event_id", 16)
    val plain = ev.groupBy("event_type").agg(sum($"value".cast("decimal(12,2)")).as("total"))
    assert(salted.except(plain).count() == 0 && plain.except(salted).count() == 0)
  }

  test("salting spreads a hot key's exchange; plain key-clustering does not") {
    // sf0.1-sized frame with a planted hot key: 90% of rows share it.
    // Measure the REDUCE-SIDE row distribution of the two clusterings
    // directly (spark_partition_id after the exchange — deterministic,
    // no timing noise). Plain hashpartitioning(key) is what a window
    // or buffer-heavy aggregate does with raw rows: the hot key's whole
    // mass lands on ONE task. SkewSalt's phase-1 clustering
    // (key, salt) bounds every task's share. (For codegen'd algebraic
    // sums Spark's map-side partial agg already collapses hot keys
    // before the exchange — the salted shape is the insurance for
    // combiner-less shapes; see BASELINE.md.)
    val n = 150000
    val parts = 8
    val df = spark.range(n).select(
      when($"id" % 10 =!= 0, lit("hot"))
        .otherwise(concat(lit("k"), $"id" % 97)).as("k"),
      $"id")
    def maxShare(clustering: Seq[org.apache.spark.sql.Column]): Double = {
      val sizes = df.repartition(parts, clustering: _*)
        .groupBy(spark_partition_id().as("p")).count()
        .as[(Int, Long)].collect()
      sizes.map(_._2).max.toDouble / n
    }
    val plainShare = maxShare(Seq($"k"))
    val saltedShare = maxShare(Seq($"k", pmod(xxhash64($"id"), lit(16))))
    assert(plainShare >= 0.9, s"hot key should dominate one task, got $plainShare")
    assert(saltedShare <= 0.35, s"salted clustering should bound task share, got $saltedShare")
  }

  // ── text stats / language ───────────────────────────────────────────
  test("textStats: counts and ratios are internally consistent") {
    val df = Seq((1L, "The cat and the dog! 42 times.")).toDF("doc_id", "text")
    val r = TextAnalysis.textStats(df, "doc_id", "text").head()
    assert(r.getAs[Int]("n_tokens") == 7)   // the cat and the dog 42 times
    assert(r.getAs[Int]("n_types") == 6)    // 'the' twice
    assert(r.getAs[Int]("n_bpe") == 9)      // 7 word runs + '!' + '.'
    assert(math.abs(r.getAs[Double]("stop_ratio") - 3.0 / 7) < 1e-12)
    assert(math.abs(r.getAs[Double]("ttr") - 6.0 / 7) < 1e-12)
  }

  test("langGuess: stopword profiles pick the right language") {
    val df = Seq(
      "the cat is on the mat and it is warm",
      "el perro y la casa de los vecinos",
      "der hund und die katze ist nicht da",
      "le chat et les maisons dans la ville",
      "zzz qqq xxx").toDF("text")
    val out = df.select(TextAnalysis.langGuess($"text")).as[String].collect().toSeq
    assert(out == Seq("en", "es", "de", "fr", "und"))
  }

  test("incremental minhash emits only cross-side pairs") {
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // corpus docs 10/11 are near-dups of each other; new doc 1 matches both;
    // new doc 2 matches nothing
    val newDocs = Seq((1L, txt), (2L, "totally different words here entirely now")).toDF("doc_id", "text")
    val corpus = Seq((10L, txt), (11L, txt + " lambda"), (12L, "unrelated corpus content text")).toDF("doc_id", "text")
    val got = graft.ext.Dedup.nearDupPairsMinhashAgainstIndex(
        newDocs, graft.ext.Dedup.buildMinhashIndexMaterialized(corpus, "doc_id", "text",
          shingleK = 3, numHashes = 128, bands = 32), "doc_id", "text", threshold = 0.6)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    // the 10~11 corpus-internal pair must NOT appear
    assert(got == Set((1L, 10L), (1L, 11L)))
  }

  test("persisted minhash index: batch path never scans corpus text and matches the one-shot result") {
    import graft.ext.Dedup
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val newDocs = Seq((1L, txt), (2L, "totally different words here entirely now")).toDF("doc_id", "text")
    val corpus = Seq((10L, txt), (11L, txt + " lambda"), (12L, "unrelated corpus content text")).toDF("doc_id", "text")

    val dir = java.nio.file.Files.createTempDirectory("mh_idx").toString
    Dedup.writeMinhashIndex(corpus, dir, "doc_id", "text", shingleK = 3, numHashes = 128, bands = 32)
    val idx = Dedup.readMinhashIndex(spark, dir)
    assert((idx.shingleK, idx.numHashes, idx.numBands) == ((3, 128, 32)), "params round-trip")

    val probe = Dedup.nearDupPairsMinhashAgainstIndex(newDocs, idx, "doc_id", "text", threshold = 0.6)

    // The incremental promise: the batch plan reads ONLY the stored index
    // on the corpus side — no file scan in the plan carries a text column
    // (newDocs is an in-memory relation, so any text-reading FileScan
    // would be a corpus re-shingle leak).
    val leaves = probe.queryExecution.executedPlan.collectLeaves()
    val fileScansWithText = leaves.filter(p =>
      p.getClass.getSimpleName.contains("FileSourceScan") &&
        p.output.exists(_.name.toLowerCase.contains("text")))
    assert(fileScansWithText.isEmpty,
      s"batch path re-scanned corpus text: ${fileScansWithText.mkString("; ")}")

    val got = probe.select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (1L, 11L)), "index path diverged from one-shot result")
  }

  test("appendToMinhashIndex folds a batch in; later probes match old AND new corpus") {
    import graft.ext.Dedup
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpusA = Seq((10L, txt), (12L, "unrelated corpus content text here")).toDF("doc_id", "text")
    val batchB = Seq((20L, txt + " lambda")).toDF("doc_id", "text")     // near-dup of 10
    val batchC = Seq((30L, txt + " mu")).toDF("doc_id", "text")        // near-dup of 10 AND 20
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_append").toString
    Dedup.writeMinhashIndex(corpusA, dir, "doc_id", "text")
    Dedup.appendToMinhashIndex(batchB, dir, "doc_id", "text")
    val got = Dedup.nearDupPairsMinhashAgainstIndex(
        batchC, Dedup.readMinhashIndex(spark, dir), "doc_id", "text", threshold = 0.6)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got == Set((30L, 10L), (30L, 20L)),
      s"probe after append should match both original corpus and appended batch: $got")
  }

  test("deleteFromMinhashIndex: tombstoned docs never match again; equals a " +
      "rebuild on the remaining corpus; append stays delete-aware") {
    import graft.ext.Dedup
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq((10L, txt), (11L, txt + " lambda"),
      (12L, "unrelated corpus content text here")).toDF("doc_id", "text")
    val batch = Seq((1L, txt)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_del").toString
    Dedup.writeMinhashIndex(corpus, dir, "doc_id", "text")
    Dedup.deleteFromMinhashIndex(Seq(10L).toDF("doc_id"), dir, "doc_id")
    val got = Dedup.nearDupPairsMinhashAgainstIndex(
        batch, Dedup.readMinhashIndex(spark, dir), "doc_id", "text", threshold = 0.6)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 11L)), s"tombstoned doc 10 resurfaced (or 11 lost): $got")
    // equivalence: identical to an index built WITHOUT the deleted doc
    val dir2 = java.nio.file.Files.createTempDirectory("mh_idx_del_rebuild").toString
    Dedup.writeMinhashIndex(corpus.filter($"doc_id" =!= 10L), dir2, "doc_id", "text")
    val rebuilt = Dedup.nearDupPairsMinhashAgainstIndex(
        batch, Dedup.readMinhashIndex(spark, dir2), "doc_id", "text", threshold = 0.6)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got == rebuilt, "tombstone semantics diverged from a rebuild")
    // append after delete: new content folds in, tombstone still holds
    Dedup.appendToMinhashIndex(
      Seq((20L, txt + " mu")).toDF("doc_id", "text"), dir, "doc_id", "text")
    val got2 = Dedup.nearDupPairsMinhashAgainstIndex(
        batch, Dedup.readMinhashIndex(spark, dir), "doc_id", "text", threshold = 0.6)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got2 == Set((1L, 11L), (1L, 20L)), s"append-after-delete wrong: $got2")
  }

  test("compactMinhashIndex: probe-identical before/after, tombstones cleared, " +
      "dead rows physically gone") {
    import graft.ext.Dedup
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq((10L, txt), (11L, txt + " lambda"),
      (12L, "unrelated corpus content text here")).toDF("doc_id", "text")
    val batch = Seq((1L, txt)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_idx_cmp").toString + "/idx"
    Dedup.writeMinhashIndex(corpus, dir, "doc_id", "text")
    Dedup.deleteFromMinhashIndex(Seq(10L).toDF("doc_id"), dir, "doc_id")
    def probe() = Dedup.nearDupPairsMinhashAgainstIndex(
        batch, Dedup.readMinhashIndex(spark, dir), "doc_id", "text", threshold = 0.6)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    val before = probe()
    val bandsBefore = spark.read.parquet(dir + "/bands").count()
    Dedup.compactMinhashIndex(spark, dir)
    assert(probe() == before, "compaction changed the probe result")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir + "/tombstones")),
      "tombstones survived compaction")
    val bandsAfter = spark.read.parquet(dir + "/bands").count()
    assert(bandsAfter < bandsBefore, "compaction rewrote nothing")
    // idempotent no-op when there is nothing to compact
    Dedup.compactMinhashIndex(spark, dir)
    assert(probe() == before)
  }

  test("deleteFromIvfIndex: tombstoned vectors never surface; exhaustive probe " +
      "equals brute force on the remaining corpus") {
    import graft.ext.SimSearch
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx_del").toString
    SimSearch.writeIvfIndex(
      SimSearch.buildIvfIndex(emb, "vec_id", "embedding", nlist = 8), dir)
    SimSearch.deleteFromIvfIndex(
      emb.filter($"vec_id" % 10 === 7).select("vec_id"), dir, "vec_id")
    val queries = emb.filter($"vec_id" % 25 === 0)
    val got = SimSearch.ivfTopKAgainstIndex(
        SimSearch.readIvfIndex(spark, dir), queries, "vec_id", "embedding",
        k = 5, nprobe = 8)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)]
      .collect().toSet
    assert(!got.exists(_._2 % 10 == 7), "a tombstoned vector surfaced in top-k")
    val want = SimSearch.bruteForceTopK(
        emb.filter($"vec_id" % 10 =!= 7), queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)]
      .collect().toSet
    assert(got == want, "delete-aware exhaustive probe diverged from brute force on survivors")
  }

  test("rebalanceIvfIndex: planted skew is detected, reclustering flattens it, " +
      "the exhaustive probe is bit-identical, and a balanced index is untouched") {
    import scala.jdk.CollectionConverters._
    import graft.ext.SimSearch
    val cemb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id", $"embedding").localCheckpoint()
    // PLANTED worst case: the seed corpus is 16 POWER-OF-2 scalar
    // multiples of ONE vector (exact in float AND through the
    // double-accumulated cosine — exponent shifts only, the semCorpus
    // device), so every anchor is parallel and every cosine ties
    // BIT-IDENTICALLY: the argmax tiebreak sends the ENTIRE appended
    // corpus to the min-cid list
    val v0 = cemb.orderBy($"vec_id").limit(1)
      .select($"embedding").localCheckpoint()
    val seed = spark.range(0, 16).crossJoin(v0)
      .select(($"id" + 1000000L).as("vec_id"),
        transform($"embedding",
          x => x * pow(lit(2.0), $"id").cast("float")).as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_rebal").toString
    SimSearch.writeIvfIndex(SimSearch.buildIvfIndex(
      seed, "vec_id", "embedding", nlist = 16, lloydIters = 0), dir)
    SimSearch.appendToIvfIndex(cemb, dir, "vec_id", "embedding")
    val before = SimSearch.ivfListSkew(spark, dir).head()
    assert(before.getAs[Double]("skew_ratio") >= 10.0,
      s"planted drift must read as heavy skew, got $before")
    val queries = cemb.filter($"vec_id" % 25 === 0)
    def probe() = SimSearch.ivfTopKAgainstIndex(
        SimSearch.readIvfIndex(spark, dir), queries, "vec_id", "embedding",
        k = 5, nprobe = 16)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)]
      .collect().toSet
    val probeBefore = probe()
    // the policy fires, reclusters, and the skew report flattens
    assert(SimSearch.rebalanceIvfIndexIfSkewed(spark, dir, maxSkew = 1.5))
    val after = SimSearch.ivfListSkew(spark, dir).head()
    assert(after.getAs[Double]("skew_ratio") <
      before.getAs[Double]("skew_ratio") / 2.0,
      s"rebalance must flatten the planted skew: $before -> $after")
    assert(after.getAs[Long]("n_vectors") == before.getAs[Long]("n_vectors"),
      "rebalance moved vectors in or out of the index")
    // probe-identical contract: exhaustive top-k unchanged
    assert(probe() == probeBefore,
      "reclustering changed an exhaustive probe result")
    // and a now-balanced index is left byte-for-byte alone
    def treeState(): Map[String, Long] = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try w.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
      finally w.close()
    }
    val state = treeState()
    assert(!SimSearch.rebalanceIvfIndexIfSkewed(spark, dir, maxSkew = 1.5))
    assert(treeState() == state, "a non-firing policy touched the index tree")
  }

  test("minhashParamsForTau: the engine default (128, tau=0.8) IS the advisor's pick") {
    import graft.ext.Dedup
    // the parameters every minhash query runs with derive from the
    // S-curve, not a hand-pin
    assert(Dedup.minhashParamsForTau(128, 0.8) == ((32, 4)))
    // recall curve sanity: monotone in s; the pick meets its bar
    val rec08 = Dedup.minhashRecallAt(0.8, 32, 4)
    assert(rec08 >= 1.0 - 1e-4)
    assert(Dedup.minhashRecallAt(0.9, 32, 4) > rec08)
    assert(Dedup.minhashRecallAt(0.3, 32, 4) < 0.3,
      "sub-threshold pairs should mostly NOT collide")
    // a higher tau affords harder pruning (rows never decrease)
    assert(Dedup.minhashParamsForTau(128, 0.9)._2 >= 4)
    // an unmeetable bar fails loudly, not silently
    intercept[IllegalArgumentException] {
      Dedup.minhashParamsForTau(4, 0.05, missTarget = 1e-9)
    }
  }

  test("nearDupPairsFromIndex over lazy and broadcast indexes == inverted-index exact pairs") {
    import graft.ext.Dedup
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    // the independent recipe: exact n-gram Jaccard from shingle postings,
    // no signatures or bands
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val idx = lazyIndex(docs)
    for (bc <- Seq(false, true)) {
      val viaIdx = Dedup.nearDupPairsFromIndex(idx, threshold = 0.8, broadcastIndex = bc)
        .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      assert(viaIdx == exact, s"broadcastIndex=$bc")
    }
    assert(exact.nonEmpty, "corpus produced no pairs — test is vacuous")
  }

  /** A lazy (3, 128, 32) index over `docs`: every consumer of its
    * frames re-runs the scan-side pipeline — the reference the
    * materialized builder is checked against.
    */
  private def lazyIndex(docs: org.apache.spark.sql.DataFrame): Dedup.MinhashIndex = {
    val base = Dedup.shingled(docs, "doc_id", "text", 3)
    Dedup.MinhashIndex(Dedup.bandedOf(base, 128, 32), base, 3, 128, 32)
  }

  /** (parquet scans, tokenize calls, signature calls) in an optimized plan. */
  private def work(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): (Int, Int, Int) = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import graft.plans.{MinhashSignature, UnicodeTokens}
    val exprs = p.flatMap(_.expressions).flatMap(_.collect { case e => e })
    (p.collectLeaves().count {
      case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation]
      case _ => false
    }, exprs.count(_.isInstanceOf[UnicodeTokens]), exprs.count(_.isInstanceOf[MinhashSignature]))
  }

  test("nearDupPairsMinhash plan: no documents scan, tokenize or signature above its index") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val plan = Dedup.nearDupPairsMinhash(docs, "doc_id", "text", 3, 128, 32, 0.8)
      .queryExecution.optimizedPlan
    assert(work(plan) == ((0, 0, 0)), plan.treeString)
    // the guard is not vacuous: over a lazy index every consumer of the
    // shingle sets and band keys re-reads and re-tokenizes the documents
    val lazyPlan = Dedup.nearDupPairsFromIndex(lazyIndex(docs), 0.8)
      .queryExecution.optimizedPlan
    assert(work(lazyPlan) == ((4, 4, 2)), lazyPlan.treeString)
  }

  test("nearDupPairsMinhashAgainstIndex plan over a stored index: no tokenize or signature") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("mh_probe_plan").toString
    Dedup.writeMinhashIndex(docs.filter($"doc_id" % 5 =!= 0), dir, "doc_id", "text")
    val plan = Dedup.nearDupPairsMinhashAgainstIndex(
        docs.filter($"doc_id" % 5 === 0), Dedup.readMinhashIndex(spark, dir), "doc_id", "text")
      .queryExecution.optimizedPlan
    // the stored bands/ and sets/ are the only scans; the batch side is
    // the builder's checkpoints (a lazy batch build plans (4, 2, 1):
    // the band join and the verify join each re-read and re-tokenize it)
    assert(work(plan) == ((2, 0, 0)), plan.treeString)
  }

  test("buildMinhashIndexMaterialized frames == lazy build; " +
      "writeMinhashIndex round-trip derives identical bands (round-20)") {
    import graft.ext.Dedup
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text")
    val lazyIdx = lazyIndex(docs)
    val mat = Dedup.buildMinhashIndexMaterialized(docs, "doc_id", "text",
      shingleK = 3, numHashes = 128, bands = 32)
    // the one-pass materialized builder must produce row-identical frames
    val lb = lazyIdx.bands.select("__id", "band", "bh")
      .as[(Long, Int, Long)].collect().toSet
    val mb = mat.bands.select("__id", "band", "bh")
      .as[(Long, Int, Long)].collect().toSet
    assert(mb == lb, "materialized bands diverged from the lazy build")
    assert(lb.nonEmpty, "no band rows — test is vacuous")
    assert(mat.sets.count() == lazyIdx.sets.count())
    // writeMinhashIndex derives bands/ from the WRITTEN sets (one
    // scan-side pass): the stored rows must equal the in-memory frame —
    // i.e. the array<string> parquet round-trip is lossless under the
    // signature expression
    val dir = java.nio.file.Files.createTempDirectory("mh_write_rt").toString
    Dedup.writeMinhashIndex(docs, dir, "doc_id", "text",
      shingleK = 3, numHashes = 128, bands = 32)
    val storedBands = spark.read.parquet(dir + "/bands")
      .select("id", "band", "bh").as[(Long, Int, Long)].collect().toSet
    assert(storedBands == lb, "written bands diverged from bandedOf(sets)")
    // and the read-back index probes identically
    val fromStore = Dedup.nearDupPairsFromIndex(
        Dedup.readMinhashIndex(spark, dir), threshold = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val direct2 = Dedup.nearDupPairsFromIndex(lazyIdx, threshold = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(fromStore == direct2)
  }

  test("appendToIvfIndex: appended batch probes like a from-scratch build; " +
      "stored assignments never move") {
    import graft.ext.SimSearch
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx_app").toString
    SimSearch.writeIvfIndex(
      SimSearch.buildIvfIndex(emb.filter($"vec_id" % 4 =!= 0),
        "vec_id", "embedding", nlist = 8), dir)
    val preAssign = spark.read.parquet(dir + "/lists")
      .select("id", "cid").as[(Long, Long)].collect().toMap
    SimSearch.appendToIvfIndex(
      emb.filter($"vec_id" % 4 === 0), dir, "vec_id", "embedding")
    // old rows kept their exact list assignment (append is an append)
    val postAssign = spark.read.parquet(dir + "/lists")
      .select("id", "cid").as[(Long, Long)].collect().toMap
    preAssign.foreach { case (id, cid) =>
      assert(postAssign(id) == cid, s"append moved vec $id between lists") }
    // exhaustive probe over the appended index == brute force over ALL
    val queries = emb.filter($"vec_id" % 25 === 0)
    val got = SimSearch.ivfTopKAgainstIndex(
        SimSearch.readIvfIndex(spark, dir), queries, "vec_id", "embedding",
        k = 5, nprobe = 8)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)]
      .collect().toSet
    val want = SimSearch.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)]
      .collect().toSet
    assert(got == want, "append-then-exhaustive-probe diverged from brute force")
  }

  test("compactIvfIndex: probe-identical before/after, tombstones cleared, " +
      "dead rows physically gone") {
    import graft.ext.SimSearch
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx_cmp").toString + "/idx"
    SimSearch.writeIvfIndex(
      SimSearch.buildIvfIndex(emb, "vec_id", "embedding", nlist = 8), dir)
    SimSearch.deleteFromIvfIndex(
      emb.filter($"vec_id" % 10 === 3).select("vec_id"), dir, "vec_id")
    val queries = emb.filter($"vec_id" % 25 === 0)
    def probe() = SimSearch.ivfTopKAgainstIndex(
        SimSearch.readIvfIndex(spark, dir), queries, "vec_id", "embedding",
        k = 5, nprobe = 8)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)]
      .collect().toSet
    val before = probe()
    val listsBefore = spark.read.parquet(dir + "/lists").count()
    SimSearch.compactIvfIndex(spark, dir)
    assert(probe() == before, "compaction changed the probe result")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir + "/tombstones")),
      "tombstones survived compaction")
    assert(spark.read.parquet(dir + "/lists").count() < listsBefore,
      "compaction rewrote nothing")
    // idempotent no-op when there is nothing to compact
    SimSearch.compactIvfIndex(spark, dir)
    assert(probe() == before)
  }

  test("persisted IVF index: probe plan never re-assigns the corpus and matches build+probe") {
    import graft.ext.SimSearch
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    SimSearch.writeIvfIndex(
      SimSearch.buildIvfIndex(emb, "vec_id", "embedding", nlist = 8), dir)
    val idx = SimSearch.readIvfIndex(spark, dir)
    assert(idx.nlist == 8, "params round-trip")

    // in-memory query batch: any FileScan carrying the raw 'embedding'
    // column in the probe plan would be a corpus re-assignment leak
    // (the stored index uses 'cvec'/'vec' names)
    val qRows = emb.filter(col("vec_id") % 100 === 0).collect().toSeq
    val qDf = spark.createDataFrame(
      spark.sparkContext.parallelize(qRows), emb.schema)
    val probe = SimSearch.ivfTopKAgainstIndex(idx, qDf, "vec_id", "embedding", k = 5, nprobe = 8)
    val leaks = probe.queryExecution.executedPlan.collectLeaves().filter(p =>
      p.getClass.getSimpleName.contains("FileSourceScan") &&
        p.output.exists(_.name == "embedding"))
    assert(leaks.isEmpty, s"probe re-scanned the corpus embeddings: ${leaks.mkString("; ")}")

    // exhaustive probe from storage == build+probe in memory
    val got = probe.select("query_id", "neighbor_id", "rank").collect().toSet
    val want = SimSearch.ivfTopK(emb, qDf, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 8)
      .select("query_id", "neighbor_id", "rank").collect().toSet
    assert(got == want, "stored-index probe diverged from one-shot ivfTopK")
  }

  test("decontaminate removes exactly the training docs near-dupping an eval doc") {
    import graft.ext.Dedup
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val training = Seq(
      (10L, txt),                                   // near-dup of eval 1 → removed
      (11L, txt + " lambda"),                       // near-dup of eval 1 → removed
      (12L, "unrelated corpus content text here")). // clean → kept
      toDF("doc_id", "text")
    val evalDocs = Seq((1L, txt)).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(training, evalDocs, "doc_id", "text", threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L), s"kept $kept")
  }

  test("ngramContaminated flags exactly the verbatim-sharing docs with exact gram counts") {
    import graft.ext.Dedup
    val leak = "one two three four five"               // a 5-gram in the eval set
    val training = Seq(
      (10L, s"prefix words $leak suffix words"),       // contains the leaked 5-gram
      (11L, s"$leak six seven"),                       // two shared 5-grams (shifted windows)
      (12L, "one two three nine ten eleven twelve"),   // only a shorter prefix → clean at n=5
      (13L, "totally different content here indeed"))  // clean
      .toDF("doc_id", "text")
    val evalDocs = Seq((1L, s"$leak six")).toDF("doc_id", "text")
    val got = Dedup.ngramContaminated(training, evalDocs, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().toMap
    // eval grams: "one two three four five", "two three four five six"
    assert(got == Map(10L -> 1L, 11L -> 2L), s"got $got")
    // the flags anti-join cleanly: survivors are the unflagged docs
    val kept = training.join(
        Dedup.ngramContaminated(training, evalDocs, "doc_id", "text", n = 5),
        Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L, 13L))
  }

  test("banded self-join spreads a planted hot cluster's quadratic work across tasks") {
    import graft.ext.Dedup
    // 400 one-token-edit docs: near-identical (high Jaccard) but NOT
    // byte-identical, so exactDedup cannot collapse them — the
    // pathological bucket the Dedup scaladoc warns about. The skew
    // certification: banding turns the hot cluster into `bands`
    // INDEPENDENT join keys, so its quadratic candidate volume lands on
    // many tasks, never one. (AQE skew-join additionally handles
    // input-byte skew; the quadratic-output hazard is what banding
    // itself must bound, and that is what's measured here.)
    val base = (1 to 14).map(i => s"word$i").mkString(" ")
    val hot = (0 until 400).map(i => (i.toLong, s"$base extra$i"))
    val cold = (0 until 100).map(i =>
      (100000L + i, (1 to 12).map(j => s"c${i}x$j").mkString(" ")))
    val docs = (hot ++ cold).toDF("doc_id", "text")

    // precondition: the cluster survives exact dedup (all texts distinct)
    assert(Dedup.exactDedup(docs, "doc_id", xxhash64(col("text"))).count() == 500)

    val banded = Dedup.bandedOf(Dedup.shingled(docs, "doc_id", "text", 3), 128, 32)
    val cand = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.__id") < col("y.__id"))
    // AQE coalesces this KB-scale shuffle to ONE partition locally,
    // which would measure the coalescer, not the key spread — at 100 TB
    // these partitions are far above the advisory size and stay apart.
    // Freeze the partition layout for the measurement only.
    val byPart =
      try {
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        cand.select(spark_partition_id().as("pid"))
          .groupBy("pid").agg(count(lit(1)).as("n"))
          .as[(Int, Long)].collect()
      } finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val total = byPart.map(_._2).sum.toDouble
    // non-vacuous: the hot cluster must actually have gone quadratic
    assert(total > 100000, s"hot cluster produced only $total candidate rows")
    val maxShare = byPart.map(_._2).max / total
    info(f"candidate rows $total%.0f, partitions ${byPart.length}, max task share $maxShare%.3f")
    assert(maxShare < 0.30,
      f"hot-bucket candidate work concentrated on one task: max share $maxShare%.2f over ${byPart.length} partitions")
  }

  test("boundaryDupPairs: tail seam == head seam pairs; short docs excluded") {
    val df = Seq(
      (1L, "p q r s t u"), // tail (s t u) == doc 2's head
      (2L, "s t u v w x"),
      (3L, "a b c d e"), // 5 tokens < 2k=6 → excluded
      (4L, "unrelated text entirely here now ok")).toDF("doc_id", "text")
    val got = Dedup.boundaryDupPairs(df, "doc_id", "text", k = 3)
      .as[(Long, Long)].collect().toSet
    // directional: (1,2) only — doc 2's tail (v w x) matches nobody's head
    assert(got == Set((1L, 2L)))
  }

  test("boundaryDupPairs stop-seam guard drops corpus-common seams") {
    // 5 docs all OPEN with the same boilerplate seam; one doc's tail matches it
    val boiler = (10L to 14L).map(i => (i, s"thank you all w$i x$i y$i z$i"))
    val df = ((1L, "p q r thank you all") +: boiler).toDF("doc_id", "text")
    val capped = Dedup.boundaryDupPairs(df, "doc_id", "text", k = 3, maxSeamDf = 4)
      .as[(Long, Long)].collect()
    assert(capped.isEmpty, s"seam with head-df 5 > cap 4 must be dropped: ${capped.toSeq}")
    val uncapped = Dedup.boundaryDupPairs(df, "doc_id", "text", k = 3, maxSeamDf = 5)
      .as[(Long, Long)].collect().toSet
    assert(uncapped == (10L to 14L).map((1L, _)).toSet)
  }

  test("signWords: known bit patterns; hammingDist zero/symmetric/counts flips") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("v", ArrayType(FloatType))))
    def vec(signs: Seq[Int]): Row = Row(signs.map(s => (s * 1.0f)).toArray.toSeq)
    // 32 dims: +--- ... (first positive, rest negative) -> word = 2^31
    val allNegButFirst = Seq(1) ++ Seq.fill(31)(-1)
    val df = spark.createDataFrame(
      java.util.List.of(vec(allNegButFirst), vec(Seq.fill(32)(1))), schema)
    val words = df.select(SimSearch.signWords($"v", 32).as("w"))
      .as[Seq[Long]].collect()
    assert(words(0) == Seq(1L << 31), "big-endian acc*2+bit fold")
    assert(words(1) == Seq(0xFFFFFFFFL), "all-ones word")
    // 31 flipped bits between the two rows; zero to self
    val h = spark.range(1).select(
      SimSearch.hammingDist(typedLit(Seq(1L << 31)), typedLit(Seq(0xFFFFFFFFL))).as("d"),
      SimSearch.hammingDist(typedLit(Seq(0xFFFFFFFFL)), typedLit(Seq(1L << 31))).as("ds"),
      SimSearch.hammingDist(typedLit(Seq(1L << 31)), typedLit(Seq(1L << 31))).as("z"))
      .as[(Long, Long, Long)].head()
    assert(h == ((31L, 31L, 0L)))
  }

  test("hamming exhaustive-shortlist escape: rerank == brute-force cosine") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 125 === 0)
    val n = emb.count().toInt
    val got = SimSearch.hammingRerankTopK(emb, qs, "vec_id", "embedding",
      dim = 64, shortlist = n - 1, k = 5)
    val truth = SimSearch.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 5)
    assert(got.exceptAll(truth).count() == 0 && truth.exceptAll(got).count() == 0)
  }
  test("contentDrift: stable history drifts 0, full rewrite crosses the flag, shingle-less revisions drop") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val rewrite = base.split(" ").reverse.mkString(" ")
    val hist = Seq(
      ("u/stable", 1L, base), ("u/stable", 2L, base), ("u/stable", 3L, base),
      ("u/rewrite", 1L, base), ("u/rewrite", 2L, rewrite),
      // the middle revision has under k tokens -> no shingle, no
      // signature: it DROPS and rounds 1/3 become consecutive; both
      // carry the same text, so the drift is 0
      ("u/gap", 1L, base), ("u/gap", 2L, "too short"), ("u/gap", 3L, base))
      .toDF("url", "r", "text")
    val got = SimHash.contentDrift(hist, "url", "r", "text")
      .as[(String, Long, Long, Long, Boolean)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4, x._5))).toMap
    assert(got("u/stable") == ((3L, 0L, 0L, false)), s"got ${got("u/stable")}")
    val (nRw, totRw, maxRw, flagRw) = got("u/rewrite")
    assert(nRw == 2L && maxRw >= 12L && flagRw,
      s"a full token-order rewrite must cross the drift flag: ${got("u/rewrite")}")
    assert(totRw == maxRw, "single interval: total == max")
    assert(got("u/gap") == ((2L, 0L, 0L, false)),
      s"shingle-less revision must drop, leaving equal neighbors: ${got("u/gap")}")
  }

  test("dedupParagraphsCorpus: global keep-first by (doc,pos), within-doc repeats, all-dropped docs, \\n\\n+ separators") {
    val df = Seq(
      (3L, "SHARED A\n\nonly in three"),     // first SHARED A (id 3 < 7)
      (7L, "SHARED A\n\nonly in seven\n\nSHARED B"),
      (9L, "SHARED B\n\n\nSHARED A"),        // triple sep; both dropped
      (5L, "twice\n\ntwice"),                // within-doc repeat
      (6L, ""),
      (8L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val got = Dedup.dedupParagraphsCorpus(df, "id", "text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.size == 6, "every input doc gets exactly one row")
    assert(got(3L) == ((2L, 2L, "SHARED A\n\nonly in three")))
    assert(got(7L) == ((3L, 2L, "only in seven\n\nSHARED B")),
      s"SHARED A first seen in doc 3: ${got(7L)}")
    assert(got(9L) == ((2L, 0L, "")),
      s"doc of only-seen-before paragraphs empties: ${got(9L)}")
    assert(got(5L) == ((2L, 1L, "twice")),
      s"within-doc repeat keeps first position only: ${got(5L)}")
    assert(got(6L) == ((0L, 0L, "")))
    assert(got(8L) == ((0L, 0L, "")), "null text is an empty doc")
  }

  test("normalizeForDedup: case/accent/digit/punct/whitespace folds, non-latin strips, null-safe") {
    val rows = Seq(
      "Call 555-0199 NOW!!",
      "  call\t555 0199  now  ",
      "café résumé naïve",
      "mixed мира 漢字 latin",
      null.asInstanceOf[String]).toDF("t")
    val got = rows
      .select(TextAnalysis.normalizeForDedup(col("t")).as("n"))
      .as[String].collect()
    assert(got(0) == "call 0000000 now", s"digits->0, punct gone: '${got(0)}'")
    // the hyphen-stripped form and the space-separated form differ by
    // design (strip, not space-replace): 0000000 vs 000 0000
    assert(got(1) == "call 000 0000 now", s"ws collapse + trim: '${got(1)}'")
    assert(got(2) == "cafe resume naive", s"accent fold: '${got(2)}'")
    assert(got(3) == "mixed latin", s"non-latin letters strip: '${got(3)}'")
    assert(got(4) == "", "null-safe")
  }

  test("nbTrainContrast/nbScoreContrast: hand-computed weights, OOV smoothing, tie routes neg, empty doc classified") {
    import graft.ext.TextClassifier
    val pos = Seq("good good the", "good end").toDF("text")
    val neg = Seq("bad the", "bad bad end").toDF("text")
    val model = TextClassifier.nbTrainContrast(pos, neg, "text")
    // V=4, N_pos=5, N_neg=5: w = (c+1)*1e6 div 9 each side
    val w = model.select(col("token"), col("w_ppm"))
      .as[(String, Long)].collect().toMap
    assert(w("good") == 4000000L / 9 - 1000000L / 9, s"w(good)=${w("good")}")
    assert(w("bad") == -(4000000L / 9 - 1000000L / 9))
    assert(w("the") == 0L && w("end") == 0L, "balanced tokens weigh 0")
    val docs = Seq(
      (1L, "good good"), (2L, "bad"), (3L, "good bad zzz the"),
      (4L, ""), (5L, null.asInstanceOf[String])).toDF("id", "text")
    val got = TextClassifier.nbScoreContrast(model, docs, "id", "text")
      .select(col("id"), col("n_toks"), col("oov_toks"), col("score"),
        col("label"))
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((2L, 0L, 2L * 333333L, "pos")), s"${got(1L)}")
    assert(got(2L) == ((1L, 0L, -333333L, "neg")))
    // good + bad cancel, zzz takes w_oov = 0 → tie routes neg
    assert(got(3L) == ((4L, 1L, 0L, "neg")), s"tie: ${got(3L)}")
    assert(got(4L) == ((0L, 0L, 0L, "neg")), "empty doc classified")
    assert(got(5L) == ((0L, 0L, 0L, "neg")), "null doc classified")
  }

  test("mineMarginPairs: hand-computed margins, flat-neighborhood rejection, mutuality") {
    val src = Seq(
      (0L, Seq(1f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f))).toDF("vec_id", "embedding")
    val tgt = Seq(
      (1L, Seq(1f, 0f, 0f)),      // clone of src 0
      (3L, Seq(0.8f, 0.6f, 0f)),
      (9L, Seq(-0.8f, 0.6f, 0f))) // mirror of 3 wrt src 2's axis
      .toDF("vec_id", "embedding")
    val got = graft.ext.Bitext.mineMarginPairs(
        src, tgt, "vec_id", "embedding", k = 2)
      .select(col("src_id"), col("tgt_id"), col("top_sim_s"),
        col("margin_c1000"), col("mutual"), col("accepted"))
      .as[(Long, Long, Long, Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // src 0: top2 = (t1 cos 1 → 2000000, t3 cos .8 → 1800000);
    // margin = 2000000·1000·2 div 3800000 = 1052 > 1005 → accepted;
    // t1's backward best is src 0 → mutual
    assert(got(0L) == ((1L, 2000000L, 1052L, true, true)), s"${got(0L)}")
    // src 2: t3 and t9 tie at cos .6 (id tiebreak → t3); the flat
    // neighborhood makes margin exactly 1000 → rejected; t3's
    // backward best is src 0 (cos .8) → not mutual
    assert(got(2L) == ((3L, 1600000L, 1000L, false, false)), s"${got(2L)}")
    // empty target side: every source still yields a row, with
    // accepted/mutual FALSE (never NULL — review finding)
    val emptyTgt = graft.ext.Bitext.mineMarginPairs(
        src, tgt.filter(col("vec_id") < 0), "vec_id", "embedding", k = 2)
      .select(col("src_id"), col("tgt_id").isNull.as("no_tgt"),
        col("mutual"), col("accepted"))
      .as[(Long, Boolean, Boolean, Boolean)].collect()
    assert(emptyTgt.length == 2 &&
      emptyTgt.forall(r => r._2 && !r._3 && !r._4), s"${emptyTgt.toSeq}")
  }

  test("mineMarginPairs: overlapping src/tgt id spaces — the same-id pair is a live candidate (round-14 ADVICE)") {
    // src and tgt are independent corpora both numbered from 0; the
    // true translation of src 0 carries tgt id 0. Pre-fix the
    // tgt_id =!= src_id join guard silently dropped it.
    val src = Seq(
      (0L, Seq(1f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f))).toDF("vec_id", "embedding")
    val tgt = Seq(
      (0L, Seq(1f, 0f, 0f)),      // clone of src 0, SAME id
      (3L, Seq(0.8f, 0.6f, 0f)),
      (9L, Seq(-0.8f, 0.6f, 0f)))
      .toDF("vec_id", "embedding")
    val got = graft.ext.Bitext.mineMarginPairs(
        src, tgt, "vec_id", "embedding", k = 2)
      .select(col("src_id"), col("tgt_id"), col("top_sim_s"),
        col("margin_c1000"), col("mutual"), col("accepted"))
      .as[(Long, Long, Long, Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // identical math to the disjoint-id test with the clone at id 0:
    // top2 = (2000000, 1800000) → margin 1052, accepted + mutual
    assert(got(0L) == ((0L, 2000000L, 1052L, true, true)), s"${got(0L)}")
  }

  test("dedupSentenceSpans: keep-first span grain, unique-tail survival, 2-sentence overlap passes, in-doc chains") {
    val df = Seq(
      (1L, "B one x. B two y. B three z. U1 tail a. U1 tail b."),
      // copies doc 1's 3-sentence head block; unique tail must survive
      (2L, "B one x. B two y. B three z. U2 tail a. U2 tail b."),
      // only 2 shared sentences: every span has a unique member
      (3L, "B one x. B two y. U3 c. U3 d. U3 e."),
      // in-doc 4x repeat: spans @0/@1 share a fingerprint
      (4L, "R r r. R r r. R r r. R r r. U4 tail."),
      (5L, "short one. short two."), // < span: passes through whole
      (6L, ""),
      (7L, null.asInstanceOf[String])).toDF("id", "text")
    val got = Dedup.dedupSentenceSpans(df, "id", "text")
      .select(col("id"), col("n_sents"), col("n_kept"), col("text_dedup"))
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((5L, 5L,
      "B one x. B two y. B three z. U1 tail a. U1 tail b.")))
    assert(got(2L) == ((5L, 2L, "U2 tail a. U2 tail b.")),
      s"head removed, tail survives: ${got(2L)}")
    assert(got(3L) == ((5L, 5L, "B one x. B two y. U3 c. U3 d. U3 e.")),
      "a 2-sentence overlap is not a span")
    assert(got(4L) == ((5L, 2L, "R r r. U4 tail.")),
      s"in-doc chain keeps first only: ${got(4L)}")
    assert(got(5L) == ((2L, 2L, "short one. short two.")))
    assert(got(6L) == ((0L, 0L, "")))
    assert(got(7L) == ((0L, 0L, "")))
  }

  test("nbMergeModels: merge of batch models equals the one-shot train exactly") {
    import graft.ext.TextClassifier
    val posA = Seq("good good the").toDF("text")
    val negA = Seq("bad the").toDF("text")
    val posB = Seq("good end", "fine day").toDF("text")
    val negB = Seq("bad bad end", "awful day").toDF("text")
    val merged = TextClassifier.nbMergeModels(
      TextClassifier.nbTrainContrast(posA, negA, "text"),
      TextClassifier.nbTrainContrast(posB, negB, "text"))
    val oneShot = TextClassifier.nbTrainContrast(
      posA.union(posB), negA.union(negB), "text")
    val m = merged.orderBy("token")
      .as[(String, Long, Long, Long)].collect().toSeq
    val o = oneShot.orderBy("token")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(m == o, s"merged=$m oneShot=$o")
    // batch-disjoint tokens survive the merge with full counts
    assert(m.exists(r => r._1 == "fine" && r._2 == 1L && r._3 == 0L))
  }

  test("chatData.validateAndRender: verdict precedence, ANSI-safe empty rest, audit rendering") {
    import graft.ext.ChatData
    def m(role: String, c: String) =
      s"""{"role":"$role","content":"$c"}"""
    val rows = Seq(
      (1L, s"[${m("system", "s")},${m("user", "q")},${m("assistant", "a")}]"),
      (2L, s"[${m("user", "q")},${m("assistant", "a")}]"),
      // system-only: rest is EMPTY (the ANSI element_at trap) and the
      // last turn is not the assistant's
      (3L, s"[${m("system", "s")}]"),
      (4L, s"[${m("system", "s")},${m("user", "q")},${m("system", "s2")}]"),
      (5L, s"[${m("assistant", "a")},${m("user", "q")}]"),
      (6L, s"[${m("user", "q")},${m("assistant", "  ")}]"),
      (7L, "not json"),
      (8L, null.asInstanceOf[String]),
      (9L, "[]"))
      .toDF("id", "messages")
    val got = ChatData.validateAndRender(rows, "id", "messages")
      .select(col("id"), col("n_turns"), col("verdict"), col("rendered"))
      .as[(Long, Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((3L, "keep", "<|system|>s\n<|user|>q\n<|assistant|>a")))
    assert(got(2L) == ((2L, "keep", "<|user|>q\n<|assistant|>a")))
    assert(got(3L) == ((1L, "dangling", "<|system|>s")), s"${got(3L)}")
    assert(got(4L)._2 == "system_pos", "duplicate system routes system_pos")
    assert(got(5L)._2 == "non_alternating", "assistant-first fails alternation")
    assert(got(6L)._2 == "empty_turn", "whitespace-only content is empty")
    assert(got(7L) == ((0L, "bad_json", "")))
    assert(got(8L) == ((0L, "bad_json", "")))
    assert(got(9L) == ((0L, "empty", "")))
  }

  test("preparePreferencePairs: field gates, normalized equality, valid-only prompt dedup") {
    import graft.ext.ChatData
    val df = Seq(
      (1L, "Explain X", "good long answer", "bad answer"),
      // same prompt, different case/space -> dup of 1
      (2L, "explain  x", "another good one", "another bad one"),
      // invalid pair with the SAME prompt: must NOT occupy the group
      (3L, "explain x", "same", "same"),
      (4L, "Explain Y", "The Answer 42.", "the answer 73"),
      (5L, "Explain Z", null, "r"),
      (6L, "", "c", "r"),
      (7L, "Explain W", "c good", "r bad"),
      // two DISTINCT non-Latin prompts both normalize to '': they must
      // route missing, never collide into one dup_prompt group
      (8L, "Вопрос один?", "c8 fine", "r8 poor"),
      (9L, "Вопрос два?", "c9 fine", "r9 poor")).toDF("id", "prompt", "chosen", "rejected")
    val got = ChatData.preparePreferencePairs(
        df, "id", "prompt", "chosen", "rejected")
      .select(col("id"), col("verdict"), col("keep_id"))
      .as[(Long, String, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("keep", Some(1L))))
    assert(got(2L) == (("dup_prompt", Some(1L))), s"${got(2L)}")
    assert(got(3L) == (("identical", None)),
      "invalid pairs never enter prompt grouping")
    assert(got(4L) == (("near_identical", None)))
    assert(got(5L) == (("missing", None)))
    assert(got(6L) == (("missing", None)))
    assert(got(7L) == (("keep", Some(7L))))
    assert(got(8L) == (("missing", None)) && got(9L) == (("missing", None)),
      s"empty-normalized prompts must not form a dedup group: ${got(8L)}, ${got(9L)}")
  }

  test("nbScoreContrast: the model is JOINED, never broadcast-required (plan probe)") {
    import graft.ext.TextClassifier
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val model = TextClassifier.nbTrainContrast(
      Seq("good fine day").toDF("text"), Seq("bad poor day").toDF("text"),
      "text")
    val docs = Seq((1L, "good day"), (2L, "bad day")).toDF("id", "text")
    // AQE + auto-broadcast off: a tiny test model legitimately
    // auto-broadcasts, but nothing in the plan may REQUIRE it — a
    // real quality model is 10^5-10^7 rows (the q228 lm-model
    // posture). The only broadcast the plan itself asks for is the
    // 1-row totals scalar, whose subtree contains its aggregate.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = TextClassifier.nbScoreContrast(model, docs, "id", "text")
        .queryExecution.executedPlan
      val bcasts = plan.collect { case b: BroadcastExchangeExec => b }
      assert(bcasts.nonEmpty, "the totals scalar should broadcast")
      bcasts.foreach { b =>
        assert(b.collect { case a: BaseAggregateExec => a }.nonEmpty,
          s"a broadcast subtree without an aggregate beneath it — the " +
            s"raw model is being broadcast:\n$b")
      }
      // non-vacuity: an explicit raw-model broadcast fails the probe
      val bad = docs.join(
        broadcast(model.select(col("token"), col("w_ppm"))),
        expr("true"), "left")
      val badB = bad.queryExecution.executedPlan
        .collect { case b: BroadcastExchangeExec => b }
      assert(badB.exists(_.collect { case a: BaseAggregateExec => a }.isEmpty),
        "probe shape: a raw-relation broadcast must be detectable")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("dedupExactNormalized: variant group collapses to min id, every input classified") {
    val df = Seq(
      (10L, "The Price Is 42 Dollars."),
      (11L, "the price is 42 dollars"),
      (12L, "the  price\tis 73 dollars!"),
      (13L, "thé price is 42 dollars"),
      (20L, "something else entirely")).toDF("id", "text")
    val got = Dedup.dedupExactNormalized(df, "id", "text")
      .select(col("id"), col("norm_text"), col("keep_id"),
        col("n_copies"), col("is_dup"))
      .as[(Long, String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got.size == 5, "one row per input doc")
    for (i <- Seq(10L, 11L, 12L, 13L))
      assert(got(i) == (("the price is 00 dollars", 10L, 4L, i != 10L)),
        s"variant $i: ${got(i)}")
    assert(got(20L) == (("something else entirely", 20L, 1L, false)))
  }

  /** q310/q313/q315 planted SemDeDup corpus (ONE builder — the
    * DedupQueries semCorpus twin — so the brute-force and incremental
    * tests cannot drift apart): power-of-2 scalar-multiple copies.
    */
  private def plantedSemCorpus(partitions: Int) = {
    val base = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    def scaled(k: Float, off: Long, m: Long) = base
      .filter($"vec_id" % m === 0)
      .select(($"vec_id" + off).as("vec_id"),
        transform($"embedding", x => x * lit(k)).as("embedding"))
    base.unionByName(scaled(2.0f, 100000L, 7L))
      .unionByName(scaled(4.0f, 200000L, 14L))
      .repartition(partitions, $"vec_id").localCheckpoint()
  }

  test("semDedup == brute-force cosine truth on the planted scaled-copy corpus") {
    val corpus = plantedSemCorpus(8)
    val got = Dedup.semDedup(corpus, "vec_id", "embedding",
      nlist = 8, tau = 0.9)
    // brute-force truth: exact all-pairs edges -> same component fold
    val truthPairs = SimSearch.nearDupPairsCosine(
      corpus, "vec_id", "embedding", 0.9).select("vec_a", "vec_b")
    val truth = ConnectedComponents.dedupClusters(
        corpus.select($"vec_id"), "vec_id", truthPairs, "vec_a", "vec_b")
      .select($"vec_id", $"cluster".as("keep_id"),
        $"cluster_size".as("n_members"),
        (!$"is_representative").as("is_dup"))
    assert(got.count() == corpus.count())
    assert(got.except(truth).count() == 0 && truth.except(got).count() == 0)
    // non-vacuity: the %14 groups really are triples, %7-only pairs
    val sizes = got.filter($"n_members" === 3).count()
    assert(sizes > 0 && got.filter($"n_members" === 2 && $"is_dup").count() > 0)
    // keepers are the min id of each group (the base vector)
    assert(got.filter($"is_dup" && $"keep_id" >= 100000L).count() == 0)
  }

  test("semDedup web-scale shape: only the bounded quantizer broadcasts; the pair join never does") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec}
    // AQE + auto-broadcast off: the web-scale regime — a tiny test
    // corpus legitimately auto-broadcasts, but nothing in the plan may
    // REQUIRE it (the PageRankSpec probe discipline)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val corpus = emb.select($"vec_id", $"embedding").repartition(4, $"vec_id")
      val lists = SimSearch.buildIvfIndex(corpus, "vec_id", "embedding",
        nlist = 4, lloydIters = 1).lists
      val bcasts = lists.queryExecution.executedPlan
        .collect { case b: BroadcastExchangeExec => b }
      assert(bcasts.nonEmpty, "the anchor quantizer should broadcast")
      bcasts.foreach { b =>
        val bounded = b.collect {
          case _: GlobalLimitExec | _: LocalLimitExec => 1
          case _: TakeOrderedAndProjectExec => 1 // orderBy().limit(n) fuses
          case _: BaseAggregateExec => 1
        }
        // round-19: buildIvfIndex localCheckpoints the trained anchors
        // (the trained-artifact rule), so the broadcast side may now be
        // a materialized RDD scan whose boundedness the plan can no
        // longer prove statically — assert it DYNAMICALLY (≤ nlist
        // rows). The probe keeps its teeth: a raw-corpus broadcast
        // would surface as scan/exchange nodes under the broadcast (no
        // RDD scan) or as a materialized side far larger than nlist.
        val ckScans = b.collect {
          case r: org.apache.spark.sql.execution.RDDScanExec => r }
        assert(bounded.nonEmpty || ckScans.nonEmpty,
          s"a broadcast subtree with neither a limit nor an aggregate " +
            s"nor a checkpointed-artifact scan beneath it — the raw " +
            s"corpus is being broadcast:\n$b")
        if (bounded.isEmpty)
          ckScans.foreach(r => assert(r.rdd.count() <= 4,
            "the checkpointed broadcast side must be the nlist-row quantizer"))
      }
      // the within-cluster pair join: equi on the cluster key, and with
      // nothing hinted it must plan WITHOUT any broadcast at all
      val members = lists.select($"__cid", $"neighbor_id".as("__id"),
        $"__cv2".as("__v")).localCheckpoint()
      val pairs = members.as("a").join(members.as("b"),
        $"a.__cid" === $"b.__cid" && $"a.__id" < $"b.__id")
      assert(pairs.queryExecution.executedPlan
        .collect { case b: BroadcastExchangeExec => b }.isEmpty,
        "the corpus-side pair join must shuffle on the cluster key, not broadcast")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("semDedupIncremental == full semDedup; both incremental pair legs live") {
    val corpus = plantedSemCorpus(8)
    val isBatch = ($"vec_id" % 7 === 0 && $"vec_id" < 100000L) ||
      $"vec_id" >= 200000L
    val old = corpus.filter(!isBatch)
    val batch = corpus.filter(isBatch)
    // non-vacuity of the split itself: triple groups straddle it
    // (base + x4 copy in batch, x2 copy old), so BOTH legs must fire
    assert(batch.filter($"vec_id" >= 200000L).count() > 0)
    assert(old.filter($"vec_id" >= 100000L && $"vec_id" < 200000L)
      .count() > 0)
    val idx = SimSearch.buildIvfIndex(old, "vec_id", "embedding",
      nlist = 8, seed = 7L, lloydIters = 1)
    val oldAssign = Dedup.semDedupWithIndex(idx, old, "vec_id", tau = 0.9)
    val inc = Dedup.semDedupIncremental(idx, oldAssign, batch,
      "vec_id", "embedding", tau = 0.9)
    val full = Dedup.semDedup(corpus, "vec_id", "embedding",
      nlist = 8, tau = 0.9)
    assert(inc.count() == corpus.count())
    assert(inc.except(full).count() == 0 && full.except(inc).count() == 0)
    // and the merged triples really exist: a batch x4 copy must be a
    // dup of its OLD x2 sibling's component (cross leg) and of its
    // batch base (batch leg) — one component of size 3 rooted at base
    val triples = inc.filter($"n_members" === 3 && $"vec_id" >= 200000L)
    assert(triples.count() > 0)
    assert(triples.filter($"keep_id" >= 100000L).count() == 0,
      "triple components must root at the base vector")
  }
}
