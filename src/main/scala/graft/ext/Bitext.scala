package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Margin-based bitext mining (Artetxe & Schwenk 2019 — the parallel-
  * corpus miner behind CCMatrix/WikiMatrix-style datasets): for every
  * source-side embedding, its best target-side neighbor is accepted
  * when its similarity stands out from the neighborhood — the MARGIN,
  * top-1 similarity over the mean of the top-k — rather than by an
  * absolute cosine cut, which hubness makes uncalibratable across
  * queries. A `mutual` flag (backward top-1 returns the source) is
  * emitted alongside for the stricter intersection strategy.
  *
  * Integer contract: cosines are computed once (the certified
  * [[SimSearch.bruteForceTopK]] fold — bit-identical across engines,
  * the q19 precedent), then shifted to s = floor((cos+1)·10⁶) ∈
  * [0, 2·10⁶] so the margin ratio is NONNEGATIVE-integer arithmetic —
  * margin_c1000 = top_s·1000·k DIV Σ top-k s — and trunc-vs-floor
  * division semantics can never diverge between engines (raw cosines
  * go negative; a ratio of signed sums would). The shift is monotone,
  * so ranking and thresholding semantics match the paper's.
  *
  * 100-TB shape: this exact form scores the queries × corpus matrix
  * ONCE via the broadcast-queries plan (certification + bounded
  * query batches) and ranks the one localCheckpoint'd frame from
  * both sides — dot products commute elementwise, so the backward
  * direction needs no second scoring pass. At corpus scale the
  * scorer swaps for IVF/LSH candidate generation ([[SimSearch]]'s
  * index family) and the margin/mutual arithmetic composes unchanged
  * on the candidate set. Every source vector yields exactly one
  * output row; accepted/mutual are never NULL (false when the margin
  * is undefined or tgt is empty).
  */
object Bitext {

  /** Mine (src → best tgt) pairs with margin and mutuality:
    * (src_id, tgt_id, top_sim_s, margin_c1000, mutual, accepted).
    * One row per source vector; `accepted` = margin_c1000 STRICTLY >
    * minMarginC1000 (1000 = "no better than the neighborhood mean").
    *
    * CONTRACT: `src` and `tgt` are INDEPENDENT corpora (two
    * languages' sentence embeddings) — there is deliberately NO
    * id-equality exclusion, because overlapping id spaces (both
    * numbered 0..n) are the normal case and excluding tgt_id ==
    * src_id would silently drop true pairs (round-14 ADVICE fix).
    * Consequence: do NOT call this with the SAME frame on both
    * sides — every vector would match itself at cosine 1 and come
    * back as an accepted, mutual top-1 self-pair. Same-corpus
    * neighbor mining is [[SimSearch.bruteForceTopK]]'s job (its
    * self-exclusion is the same-corpus semantic).
    */
  def mineMarginPairs(
      src: DataFrame, tgt: DataFrame, idCol: String, vecCol: String,
      k: Int = 4, minMarginC1000: Long = 1005L): DataFrame = {
    require(k >= 2, s"margin needs a neighborhood: k=$k")
    import org.apache.spark.sql.expressions.Window
    // score the pair matrix ONCE and rank it from both sides — the
    // cosine is symmetric, so a second backward brute pass would
    // recompute the identical scores at double the dominant cost
    // (review finding); the frame is localCheckpoint'd for its two
    // window consumers
    // src and tgt are INDEPENDENT corpora: a tgt row with the same id
    // as a src row is a legitimate candidate, so there is no self-pair
    // guard here (unlike bruteForceTopK, whose self-exclusion is a
    // same-corpus semantic) — an id-equality exclusion would silently
    // drop the true pair when the two id spaces overlap, e.g. both
    // numbered 0..n (round-14 ADVICE finding). CONTRACT: ids non-null
    // (a NULL src id cannot re-join its aggregate row and surfaces as
    // the all-false row).
    val q = src.select(col(idCol).as("src_id"), col(vecCol).as("__sv"))
    val c = tgt.select(col(idCol).as("tgt_id"), col(vecCol).as("__tv"))
    val scored = c.join(q)
      .withColumn("cosine",
        SimSearch.cosineSim(col("__sv"), col("__tv")))
      .select(col("src_id"), col("tgt_id"), col("cosine"))
      .localCheckpoint()
    val wF = Window.partitionBy("src_id")
      .orderBy(col("cosine").desc, col("tgt_id").asc)
    val fwd = scored
      .withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= k)
      .withColumn("__s",
        floor((col("cosine") + lit(1.0d)) * 1000000d).cast("long"))
    val agg = fwd.groupBy(col("src_id"))
      .agg(sum(col("__s")).as("__sum"), count(lit(1)).as("__k"),
        max(when(col("rank") === 1, col("tgt_id"))).as("tgt_id"),
        max(when(col("rank") === 1, col("__s"))).as("top_sim_s"))
      .withColumn("margin_c1000", when(col("__sum") > 0,
        expr("CAST(top_sim_s * 1000L * __k DIV __sum AS BIGINT)")))
    val wB = Window.partitionBy("tgt_id")
      .orderBy(col("cosine").desc, col("src_id").asc)
    val bwd = scored
      .withColumn("__r", row_number().over(wB))
      .filter(col("__r") === 1)
      .select(col("tgt_id"), col("src_id").as("__b"))
    // one row per SOURCE vector even when tgt is empty or the margin
    // is undefined: accepted/mutual coalesce to false, never NULL —
    // a downstream filter(!accepted) must not silently drop rows
    // (review finding)
    src.select(col(idCol).as("src_id"))
      .join(agg, Seq("src_id"), "left")
      .join(bwd, Seq("tgt_id"), "left")
      .select(col("src_id"), col("tgt_id"), col("top_sim_s"),
        col("margin_c1000"),
        coalesce(col("__b") === col("src_id"), lit(false)).as("mutual"))
      .withColumn("accepted",
        coalesce(col("margin_c1000") > minMarginC1000, lit(false)))
  }
}
