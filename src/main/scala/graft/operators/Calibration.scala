package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Classifier calibration — the precision/recall curve a quality
  * classifier ([[graft.ext.TextAnalysis]]'s token-contrast /
  * perplexity / gopher scorers) needs before its threshold is chosen:
  * for EVERY distinct score s, the confusion counts of the rule
  * "predict positive iff score ≥ s", in one pass.
  *
  * Shape: aggregate to one row per DISTINCT score first (n, n_pos),
  * then a global running sum over score DESCENDING via
  * [[Layout.globalRunningSum]] — range-partition + in-partition
  * window + a broadcast prefix-offset table, NEVER the
  * single-partition global window a naive `Window.orderBy(score)`
  * plans (the WindowExec "moving all data to a single partition"
  * trap). Cost: one aggregate exchange on the score + one range
  * exchange over the ≤|distinct scores| curve rows — the curve table
  * is orders of magnitude smaller than the corpus.
  *
  * Numbers are INTEGER-EXACT: counts are longs, precision/recall are
  * ppm by floor division (the engine-portable q309 idiom) — both
  * engines produce bit-identical curves, no doubles anywhere.
  *
  * Returns (threshold, pred_pos, tp, fp, fn, precision_ppm,
  * recall_ppm), one row per distinct score, descending semantics
  * (pred_pos at row s counts every score ≥ s).
  */
object Calibration {

  /** Per-distinct-score partial state (threshold, __n, __npos) — the
    * MERGEABLE form (the IncrementalAgg discipline on the calibration
    * arc): states from disjoint batches [[mergeStates]] into the
    * one-shot state exactly, so a curve can fold in a day's scoring
    * run without rescoring history. Certified: q338's merged curve ==
    * q336's one-shot oracle VERBATIM.
    */
  def curveState(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    // the cast below truncates fractional scores, which would silently
    // collapse distinct double scores onto one threshold row — a
    // violation of the 'one row per DISTINCT score' contract. Require
    // an integral score column (quality scorers emit integer ppm —
    // the q309 idiom); a fractional scorer must quantize explicitly
    // upstream so the resolution loss is a visible decision.
    // (round-17 review fix: was a silent cast)
    import org.apache.spark.sql.types._
    val dt = df.schema(scoreCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"curveState needs an integral score column (one row per DISTINCT " +
        s"score); $scoreCol is $dt — quantize to integer units upstream")
    df.select(col(scoreCol).cast("long").as("threshold"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("__pos"))
      .groupBy("threshold")
      .agg(count(lit(1)).as("__n"), sum(col("__pos")).as("__npos"))
  }

  /** Fold partial states — counts are sums, so merge is a re-group. */
  def mergeStates(states: DataFrame*): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy("threshold")
      .agg(sum(col("__n")).as("__n"), sum(col("__npos")).as("__npos"))

  /** The curve from a (merged) state — contract in [[prCurve]]. */
  def curveFromState(perScore: DataFrame): DataFrame = {
    val totals = perScore.agg(sum(col("__npos")).as("__totpos"))
    val cum = Layout.globalRunningSum(
      Layout.globalRunningSum(perScore,
        Seq(col("threshold").desc), col("__n"), "pred_pos"),
      Seq(col("threshold").desc), col("__npos"), "tp")
    cum.crossJoin(totals)
      .select(col("threshold"),
        col("pred_pos"), col("tp"),
        (col("pred_pos") - col("tp")).as("fp"),
        (col("__totpos") - col("tp")).as("fn"),
        // floor division, engine-exact (x*1e6 div n) — n >= 1 always
        // (pred_pos counts at least the threshold's own row)
        ((col("tp") * 1000000L - pmod(col("tp") * 1000000L, col("pred_pos")))
          / col("pred_pos")).cast("long").as("precision_ppm"),
        when(col("__totpos") === 0L, lit(0L))
          .otherwise(((col("tp") * 1000000L -
            pmod(col("tp") * 1000000L, col("__totpos"))) / col("__totpos"))
            .cast("long")).as("recall_ppm"))
  }

  def prCurve(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    curveFromState(curveState(df, scoreCol, labelCol))
}
