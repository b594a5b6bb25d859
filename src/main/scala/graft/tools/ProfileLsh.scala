package graft.tools

import graft.ext.{Dedup, SimHash, SimSearch}
import graft.tables.Corpus

/** Dev profiling harness for the LSH family (not part of the driver
  * contract; run with: sbt "runMain graft.tools.ProfileLsh"). Also
  * re-checks that the bucketed cosine path equals the all-pairs truth
  * at both local scales before any parameter change ships.
  */
object ProfileLsh {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time(name: String)(f: => Unit): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"PROF $name%-40s ${ts.map(t => f"$t%7.2f").mkString(" ")}")
    }
    for (sf <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val emb = Corpus.load(spark, sf, "embeddings")
      val exact = SimSearch.nearDupPairsCosine(emb, "vec_id", "embedding", 0.45)
        .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // exactMaxRows = 0: certify the genuinely bucketed path — the
      // declared operator would auto-select the exact plan at these sizes
      val viaLsh = SimSearch.nearDupPairsCosineLsh(emb, "vec_id", "embedding", 0.45, 64,
          exactMaxRows = 0)
        .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(s"EQCHECK $sf exact=${exact.size} lsh=${viaLsh.size} equal=${exact == viaLsh}")
    }
    for (sf <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      import org.apache.spark.sql.functions.col
      val emb = Corpus.load(spark, sf, "embeddings")
      val qs = emb.filter(col("vec_id") % 50 === 0)
      val exact = SimSearch.bruteForceTopK(emb, qs, "vec_id", "embedding", 5)
        .collect().map(_.toString).toSet
      val viaLsh = SimSearch.lshTopK(emb, qs, "vec_id", "embedding", 5, 64, 2, 24)
        .collect().map(_.toString).toSet
      println(s"EQCHECK-topk $sf exact=${exact.size} lsh=${viaLsh.size} equal=${exact == viaLsh}")
    }
    for (sf <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      import org.apache.spark.sql.functions.col
      val emb = Corpus.load(spark, sf, "embeddings")
      val qs = emb.filter(col("vec_id") % 50 === 0)
      val exactRows = SimSearch.bruteForceTopK(emb, qs, "vec_id", "embedding", 5).collect()
      val exact = exactRows.map(_.toString).toSet
      val exactP = exactRows.map(r => (r.getLong(0), r.getLong(1))).toSet
      val ivfFull = SimSearch.ivfTopK(emb, qs, "vec_id", "embedding", 5, 16, 16)
        .collect().map(_.toString).toSet
      val ivfProbe = SimSearch.ivfTopK(emb, qs, "vec_id", "embedding", 5, 16, 4)
        .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exactP intersect ivfProbe).size.toDouble / exactP.size
      println(s"EQCHECK-ivf $sf full=${ivfFull == exact} recall@nprobe4=${recall}")
    }
    val dir = "/root/testdata/sf0.1"
    val docs = Corpus.load(spark, dir, "documents")
    val emb = Corpus.load(spark, dir, "embeddings")
    time("minhash 128x32") {
      Dedup.nearDupPairsMinhash(docs, "doc_id", "text", 3, 128, 32, 0.8)
        .write.format("noop").mode("overwrite").save()
    }
    time("simhash") {
      SimHash.nearDupPairsSimhash(docs, "doc_id", "text", 3, 8)
        .write.format("noop").mode("overwrite").save()
    }
    time("jaccard capped 1%") {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5,
          maxShingleDfPermille = Some(10))
        .write.format("noop").mode("overwrite").save()
    }
    time("embed_neardup auto (exact fallback)") {
      SimSearch.nearDupPairsCosineLsh(emb, "vec_id", "embedding", 0.45, 64)
        .write.format("noop").mode("overwrite").save()
    }
    time("embed_neardup LSH (tau-aware 3,29)") {
      SimSearch.nearDupPairsCosineLsh(emb, "vec_id", "embedding", 0.45, 64,
          exactMaxRows = 0)
        .write.format("noop").mode("overwrite").save()
    }
    time("embed_neardup LSH (2,20)") {
      SimSearch.nearDupPairsCosineLsh(emb, "vec_id", "embedding", 0.45, 64, 2, 20,
          exactMaxRows = 0)
        .write.format("noop").mode("overwrite").save()
    }
    locally {
      val e01 = Corpus.load(spark, "/root/testdata/sf0.01", "embeddings")
      for ((b, t) <- Seq((3, 32), (2, 20)); (nm, d) <- Seq(("sf0.01", e01), ("sf0.1", emb))) {
        val ex = SimSearch.nearDupPairsCosine(d, "vec_id", "embedding", 0.45)
          .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val ls = SimSearch.nearDupPairsCosineLsh(d, "vec_id", "embedding", 0.45, 64, b, t,
            exactMaxRows = 0)
          .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        println(s"EQCHECK-neardup($b,$t) $nm equal=${ex == ls}")
      }
    }
    spark.stop()
  }
}
