package graft

import org.apache.spark.sql.functions._

import graft.ext.ProductQuant

/** Product quantization: exact-codebook bit parity, the exhaustive-
  * shortlist escape, and code-shape invariants.
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val clustered =
    spark.read.parquet(s"${SparkEntry.FixturesDir}/embeddings_clustered.parquet")
  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")

  test("exact codebook: ADC top-k == brute-force inner-product top-k, row for row") {
    val qs = clustered.filter($"vec_id" % 97 === 0)
    val cb = ProductQuant.exactCodebook(clustered, "embedding", m = 8, dim = 64)
    val adc = ProductQuant.pqTopK(
      ProductQuant.encode(clustered, "vec_id", "embedding", cb),
      qs, "vec_id", "embedding", cb, k = 5)
    val truth = ProductQuant.bruteForceTopKDot(clustered, qs, "vec_id", "embedding", k = 5)
    assert(adc.count() > 0)
    assert(adc.exceptAll(truth).count() == 0 && truth.exceptAll(adc).count() == 0,
      "zero quantization error must reproduce exact scores AND exact ranks")
  }

  test("exhaustive shortlist: rerank equals brute force even with a LOSSY codebook") {
    // the q44-style escape: whatever the codes get wrong, a shortlist
    // covering the whole corpus means the exact rerank decides alone
    val qs = emb.filter($"vec_id" % 125 === 0)
    val cb = ProductQuant.trainCodebook(emb, "vec_id", "embedding",
      m = 8, dim = 64, k = 4, lloydIters = 1) // deliberately coarse
    val n = emb.count().toInt
    val got = ProductQuant.pqRerankTopK(
      ProductQuant.encode(emb, "vec_id", "embedding", cb),
      emb, qs, "vec_id", "embedding", cb, shortlist = n - 1, k = 5)
    val truth = ProductQuant.bruteForceTopKDot(emb, qs, "vec_id", "embedding", k = 5)
    assert(got.exceptAll(truth).count() == 0 && truth.exceptAll(got).count() == 0)
  }

  test("codes are dense per subspace and every vector encodes m codes") {
    val cb = ProductQuant.trainCodebook(emb, "vec_id", "embedding",
      m = 16, dim = 64, k = 8, lloydIters = 1)
    val perSub = cb.centroids.groupBy("sub")
      .agg(count(lit(1)).as("n"), min("code").as("lo"), max("code").as("hi"))
      .collect()
    assert(perSub.length == 16)
    perSub.foreach { r =>
      assert(r.getAs[Long]("n") == 8 && r.getAs[Int]("lo") == 0 && r.getAs[Int]("hi") == 7,
        s"codes must be dense 0..k-1 per subspace: $r")
    }
    val codes = ProductQuant.encode(emb, "vec_id", "embedding", cb)
    assert(codes.filter(size($"codes") =!= 16).count() == 0)
    assert(codes.count() == emb.count())
  }

  test("stored index round-trips; append encodes against the FROZEN codebook") {
    val work = java.nio.file.Files.createTempDirectory("graft-pq-idx").toString
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val cb = ProductQuant.trainCodebook(base, "vec_id", "embedding",
      m = 16, dim = 64, k = 16, lloydIters = 1)
    val baseCodes = ProductQuant.encode(base, "vec_id", "embedding", cb)
    ProductQuant.writePqIndex(cb, baseCodes, work)
    ProductQuant.appendToPqIndex(batch, work, "vec_id", "embedding")
    val (cb2, codes2) = ProductQuant.readPqIndex(spark, work)
    assert(cb2.m == 16 && cb2.dim == 64)
    // codebook byte-stable across the round trip
    assert(cb.centroids.exceptAll(cb2.centroids).count() == 0 &&
      cb2.centroids.exceptAll(cb.centroids).count() == 0)
    // stored base codes untouched by the append; batch codes equal an
    // encode against the stored (frozen) codebook
    assert(codes2.count() == emb.count())
    val batchCodes = ProductQuant.encode(batch, "vec_id", "embedding", cb2)
    assert(codes2.join(batch.select($"vec_id".as("neighbor_id")), Seq("neighbor_id"), "left_semi")
      .exceptAll(batchCodes).count() == 0)
    assert(codes2.join(base.select($"vec_id".as("neighbor_id")), Seq("neighbor_id"), "left_semi")
      .exceptAll(baseCodes).count() == 0)
  }

  test("shortlist widening is monotone in recall on the trained config") {
    val qs = emb.filter($"vec_id" % 50 === 0)
    val truth = ProductQuant.bruteForceTopKDot(emb, qs, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    val cb = ProductQuant.trainCodebook(emb, "vec_id", "embedding",
      m = 16, dim = 64, k = 16, lloydIters = 1)
    val codes = ProductQuant.encode(emb, "vec_id", "embedding", cb)
    def hits(r: Int): Long = truth.join(
      ProductQuant.pqRerankTopK(codes, emb, qs, "vec_id", "embedding", cb, r, 5)
        .select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_semi").count()
    val (h25, h100) = (hits(25), hits(100))
    assert(h25 <= h100, s"recall must not shrink as the shortlist widens: $h25 vs $h100")
    assert(h100 >= (truth.count() * 0.9).toLong,
      "the generous shortlist must clear the contract band")
  }

  // ─────────────────────────── IVF-PQ ───────────────────────────

  test("ivf-pq exact arm: exhaustive probe + exact residual codebook == brute force") {
    // dot(q,v) = dot(q,c_list) + dot(q,v−c_list): with zero residual
    // quantization error and every value on the fixture's dyadic grid,
    // the decomposed sum must equal the single-fold truth bit for bit
    val qs = clustered.filter($"vec_id" % 97 === 0)
    val idx = ProductQuant.buildIvfPq(clustered, "vec_id", "embedding",
      nlist = 4, m = 8, dim = 64, pqK = 0, coarseLloyd = 0)
    val got = ProductQuant.ivfPqTopK(idx, qs, "vec_id", "embedding", k = 5, nprobe = 4)
    val truth = ProductQuant.bruteForceTopKDot(clustered, qs, "vec_id", "embedding", k = 5)
    assert(got.count() > 0)
    assert(got.exceptAll(truth).count() == 0 && truth.exceptAll(got).count() == 0,
      "exhaustive IVFADC with an exact codebook must reproduce exact scores AND ranks")
  }

  test("ivf-pq exhaustive escape: coarse codebook + full probe + full rerank == brute force") {
    // whatever the residual codes get wrong, nprobe = nlist visits every
    // list and an exhaustive shortlist lets the exact rerank decide alone
    val qs = emb.filter($"vec_id" % 125 === 0)
    val idx = ProductQuant.buildIvfPq(emb, "vec_id", "embedding",
      nlist = 4, m = 8, dim = 64, pqK = 4, coarseLloyd = 1, pqLloyd = 1)
    val n = emb.count().toInt
    val got = ProductQuant.ivfPqRerankTopK(idx, emb, qs, "vec_id", "embedding",
      shortlist = n - 1, k = 5, nprobe = 4)
    val truth = ProductQuant.bruteForceTopKDot(emb, qs, "vec_id", "embedding", k = 5)
    assert(got.exceptAll(truth).count() == 0 && truth.exceptAll(got).count() == 0)
  }

  test("ivf-pq index shape: one code row per vector, valid list id, m codes") {
    val idx = ProductQuant.buildIvfPq(emb, "vec_id", "embedding",
      nlist = 4, m = 16, dim = 64, pqK = 8, coarseLloyd = 1, pqLloyd = 1)
    val codes = idx.codes.cache()
    assert(codes.count() == emb.count())
    assert(codes.select("neighbor_id").distinct().count() == emb.count())
    assert(codes.filter(size($"codes") =!= 16).count() == 0)
    assert(codes.filter($"__cid" < 1 || $"__cid" > 4).count() == 0,
      "every code row must carry a coarse list id in 1..nlist")
    codes.unpersist()
  }

  test("ivf-pq stored index round-trips; append freezes anchors AND codebook") {
    val work = java.nio.file.Files.createTempDirectory("graft-ivfpq-idx").toString
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val idx = ProductQuant.buildIvfPq(base, "vec_id", "embedding",
      nlist = 4, m = 8, dim = 64, pqK = 8, coarseLloyd = 1, pqLloyd = 1)
    ProductQuant.writeIvfPqIndex(idx, work)
    ProductQuant.appendToIvfPqIndex(batch, work, "vec_id", "embedding")
    val idx2 = ProductQuant.readIvfPqIndex(spark, work)
    assert(idx2.nlist == 4 && idx2.cb.m == 8 && idx2.cb.dim == 64)
    // both trained artifacts byte-stable across the round trip
    assert(idx.anchors.exceptAll(idx2.anchors).count() == 0 &&
      idx2.anchors.exceptAll(idx.anchors).count() == 0)
    assert(idx.cb.centroids.exceptAll(idx2.cb.centroids).count() == 0 &&
      idx2.cb.centroids.exceptAll(idx.cb.centroids).count() == 0)
    // base codes untouched by the append; every vector present once
    // (column order normalized — exceptAll is positional)
    assert(idx2.codes.count() == emb.count())
    val storedBase = idx2.codes.join(base.select($"vec_id".as("neighbor_id")),
      Seq("neighbor_id"), "left_semi").select("neighbor_id", "__cid", "codes")
    assert(storedBase.exceptAll(
      idx.codes.select("neighbor_id", "__cid", "codes")).count() == 0)
    // exhaustive probe over the appended store == brute force
    val qs = emb.filter($"vec_id" % 125 === 0)
    val n = emb.count().toInt
    val got = ProductQuant.ivfPqRerankTopK(idx2, emb, qs, "vec_id", "embedding",
      shortlist = n - 1, k = 5, nprobe = 4)
    val truth = ProductQuant.bruteForceTopKDot(emb, qs, "vec_id", "embedding", k = 5)
    assert(got.exceptAll(truth).count() == 0 && truth.exceptAll(got).count() == 0)
  }

  test("ivf-pq probe narrowing: degraded nprobe never beats the healthy probe") {
    // q195's two-row contract as a refactor-surviving invariant: on the
    // hub-and-spoke fixture the bridges SPLIT across lists, so probe1
    // structurally misses — healthy (exhaustive) must clear the 0.9
    // band while probe1 stays at or below it
    val qs = clustered.filter($"vec_id" >= 1045) // every bridge vector
    val truth = ProductQuant.bruteForceTopKDot(clustered, qs, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    val idx = ProductQuant.buildIvfPq(clustered, "vec_id", "embedding",
      nlist = 8, m = 8, dim = 64, pqK = 16, coarseLloyd = 1, pqLloyd = 1)
    def hits(nprobe: Int): Long = truth.join(
      ProductQuant.ivfPqRerankTopK(idx, clustered, qs, "vec_id", "embedding",
        shortlist = 100, k = 5, nprobe = nprobe)
        .select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_semi").count()
    val (h1, h8) = (hits(1), hits(8))
    assert(h1 <= h8, s"narrowing the probe must not raise recall: $h1 vs $h8")
    assert(h8 >= (truth.count() * 0.9).toLong,
      "the exhaustive probe with rerank must clear the contract band")
  }
}
