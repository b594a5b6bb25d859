package graft.tools
import org.apache.spark.sql.functions._
import graft.ext.ProductQuant

/** Config sweep that picked q192's (m=16,k=16,R=50) and q195's IVF-PQ
  * (nlist, nprobe, shortlist) — recall measured against the exact
  * inner-product truth on sf0.01 embeddings, the q46 discipline's
  * "measure, then pin" step.
  */
object PqSweep {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val qs = emb.filter(col("vec_id") % 50 === 0)
    val exact = ProductQuant.bruteForceTopKDot(emb, qs, "vec_id", "embedding", 5)
      .select("query_id","neighbor_id").cache()
    exact.count()
    for ((nlist, cl, nprobe, r) <- Seq(
        (8,1,6,100),(8,1,2,100),(8,1,2,50))) {
      val idx = ProductQuant.buildIvfPq(emb, "vec_id", "embedding",
        nlist = nlist, m = 16, dim = 64, pqK = 16, coarseLloyd = cl, pqLloyd = 1)
      val top = ProductQuant.ivfPqRerankTopK(idx, emb, qs, "vec_id", "embedding",
        shortlist = r, k = 5, nprobe = nprobe)
      val hit = exact.join(top.select("query_id","neighbor_id"),
        Seq("query_id","neighbor_id"), "left_semi").count()
      println(s"nlist=$nlist coarseLloyd=$cl nprobe=$nprobe R=$r  n_hit=$hit / 50")
    }
  }
}
