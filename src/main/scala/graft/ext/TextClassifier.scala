package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Token-contrast document classifier — the integer-exact form of the
  * Naive-Bayes / fastText-style QUALITY CLASSIFIER every large-scale
  * pipeline trains to separate "reference-quality" text from raw crawl
  * (GPT-3 §2.2's LR quality filter, CCNet's fastText stage, Llama's
  * Wikipedia-reference classifier). Instead of float log-likelihoods,
  * each token carries an integer contrast weight in ppm:
  *
  *   w(t) = (c_pos(t)+1)·10⁶ DIV (N_pos+V) − (c_neg(t)+1)·10⁶ DIV (N_neg+V)
  *
  * (add-one smoothing on both sides, V = joint vocabulary size), and a
  * document scores Σ_occurrences w(t), out-of-vocabulary tokens taking
  * the unseen weight w_oov = 10⁶ DIV (N_pos+V) − 10⁶ DIV (N_neg+V).
  * Same posture as [[TextAnalysis.lmScoreWith]]'s ppm bigram scores:
  * monotone in the real NB decision for balanced classes, and every
  * value certifies exactly against a SQL oracle (all DIVs have
  * non-negative numerators, so trunc-vs-floor semantics never
  * diverge between engines).
  *
  * 100-TB shape: training is two explode→groupBy(token) aggregates
  * (map-side combinable) + a vocab-scale full-outer join; scoring
  * JOINS the model on token (never broadcast — a real quality model
  * is 10⁵–10⁷ rows, the q228 lm-model discipline) with per-(doc,token)
  * pre-aggregation so the join carries distinct tokens per doc, not
  * occurrences. Nothing collects; the only 1-row frame is the totals
  * scalar carried by crossJoin(broadcast(…)).
  */
object TextClassifier {

  private def tokenCounts(df: DataFrame, textCol: String, cname: String): DataFrame =
    df.select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as(cname))

  /** Weights from a (token, c_pos, c_neg) count table — split out so
    * [[nbMergeModels]] recomputes weights from merged counts through
    * the SAME arithmetic the one-shot trainer uses (they cannot
    * drift).
    */
  private def weightize(m: DataFrame): DataFrame = {
    val tot = m.agg(sum(col("c_pos")).as("__np"),
      sum(col("c_neg")).as("__nn"), count(lit(1)).as("__v"))
    m.crossJoin(tot)
      .withColumn("w_ppm", expr(
        "CAST((c_pos + 1L) * 1000000L DIV (__np + __v) AS BIGINT)" +
          " - CAST((c_neg + 1L) * 1000000L DIV (__nn + __v) AS BIGINT)"))
      .select(col("token"), col("c_pos"), col("c_neg"), col("w_ppm"))
      .localCheckpoint()
  }

  /** Train a contrast model from a positive and a negative corpus:
    * one row per joint-vocabulary token — (token, c_pos, c_neg,
    * w_ppm). The returned frame is localCheckpoint'd (trained
    * artifacts feed multiple consumers — the buildIvfPq lesson).
    */
  def nbTrainContrast(
      pos: DataFrame, neg: DataFrame, textCol: String): DataFrame = {
    val cp = tokenCounts(pos, textCol, "__cp")
    val cn = tokenCounts(neg, textCol, "__cn")
    weightize(cp.join(cn, Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("__cp"), lit(0L)).as("c_pos"),
        coalesce(col("__cn"), lit(0L)).as("c_neg")))
  }

  /** MERGE two contrast models trained on disjoint corpus batches:
    * counts sum token-wise and the weights recompute from the merged
    * totals — `nbMergeModels(train(A), train(B)) == train(A ∪ B)`
    * EXACTLY, because every weight is a pure function of (counts,
    * totals, vocab) and all three are unions/sums. This is the
    * incremental-training path (the q97/q186 mergeable-state
    * discipline applied to the classifier): a new crawl batch updates
    * the quality model without re-tokenizing history. Stale w_ppm
    * columns on the inputs are discarded, never averaged.
    */
  def nbMergeModels(a: DataFrame, b: DataFrame): DataFrame =
    weightize(
      a.select(col("token"), col("c_pos"), col("c_neg"))
        .unionByName(b.select(col("token"), col("c_pos"), col("c_neg")))
        .groupBy(col("token"))
        .agg(sum(col("c_pos")).as("c_pos"), sum(col("c_neg")).as("c_neg")))

  /** Score docs against a trained model: (idCol, n_toks, oov_toks,
    * score, label) — score = Σ n_occ·w, label `pos` iff score
    * STRICTLY > 0 (ties and empty/null docs route `neg`). Every input
    * doc yields exactly one row (zero-token docs come back n_toks=0,
    * score=0).
    */
  def nbScoreContrast(
      model: DataFrame, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val tot = model.agg(
      sum(col("c_pos")).as("__np"), sum(col("c_neg")).as("__nn"),
      count(lit(1)).as("__v"))
      .withColumn("__woov", expr(
        "CAST(1000000L DIV (__np + __v) AS BIGINT)" +
          " - CAST(1000000L DIV (__nn + __v) AS BIGINT)"))
      .select(col("__woov"))
    val perTok = docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("__n"))
    val scored = perTok
      .join(model.select(col("token"), col("w_ppm")), Seq("token"), "left")
      // bound: one row; with auto-broadcast off the cross join plans as a Cartesian product
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(sum(col("__n")).cast("long").as("n_toks"),
        sum(when(col("w_ppm").isNull, col("__n")).otherwise(0L))
          .cast("long").as("oov_toks"),
        sum(col("__n") * coalesce(col("w_ppm"), col("__woov")))
          .cast("long").as("score"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("oov_toks"), lit(0L)).as("oov_toks"),
        coalesce(col("score"), lit(0L)).as("score"))
      .withColumn("label",
        when(col("score") > 0L, lit("pos")).otherwise(lit("neg")))
  }
}
