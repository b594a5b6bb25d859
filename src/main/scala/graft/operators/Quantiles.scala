package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe EXACT percentiles — the 100-TB replacement for the
  * per-group ordered-set aggregate. `percentile_disc` buffers a whole
  * group's column on ONE reducer (Spark's PercentileDisc is a
  * TypedImperativeAggregate holding every value in memory): at 100 TB a
  * hot group OOMs that reducer, which is why the round-7 audit graded
  * the q120/q132/q143/q150/q163 family weak.
  *
  * The fix is the weightedMedian generalization: aggregate the data to
  * its VALUE HISTOGRAM first — `groupBy(key, value).count()` is a hash
  * aggregate with map-side partial combine, so what crosses the shuffle
  * is (key, distinct-value)-grain, never row-grain — then pick each
  * percentile from the running weight with a window over that histogram.
  * percentile_disc(p) is BY DEFINITION the smallest value v whose
  * cumulative count reaches ⌈p·n⌉, so the histogram form is exact, not
  * approximate: identical output, including on heavy ties, certified by
  * the same DuckDB `quantile_disc` oracles as the buffered form
  * (q167/q168 vs q150/q143).
  *
  * Percentiles are passed as RATIONALS (num, den) and the pick predicate
  * is all-integer (`cum·den >= num·n`) — no `cum/n >= p` double
  * comparison whose half-ulp rounding could flip a boundary pick at
  * billion-row n.
  *
  * State bound: the per-task window state is one key's DISTINCT values,
  * not its rows — for integral metrics (cents, ms, counts) that is the
  * value-domain size, orders of magnitude below row count. For genuinely
  * continuous doubles, quantize upstream (e.g. cents) or use
  * `Histogram.equiDepthSampled`'s hashSample boundaries instead.
  */
object Quantiles {

  /** Exact per-key `percentile_disc` for each (name, num, den) rational
    * percentile, plus the group count `n` — output matches
    * `df.groupBy(keys).agg(percentile_disc(num/den) ...)` exactly, with
    * no per-group ordered-set buffer anywhere in the plan.
    *
    * Shape: one hash aggregate to (key, value)-grain (map-side
    * combine), ONE keyed exchange for the running-weight window, and a
    * final same-key hash aggregate that reuses the window's
    * partitioning (no extra shuffle). NULL values are excluded, like
    * percentile_disc itself.
    *
    * `value` must be integral (cast upstream — e.g. money as cents);
    * the long cast keeps the whole report integer-exact, the q143
    * lesson.
    */
  def histPercentiles(
      df: DataFrame, keyCols: Seq[String], value: Column,
      qs: Seq[(String, Long, Long)]): DataFrame = {
    require(keyCols.nonEmpty,
      "histPercentiles is the grouped form; a global percentile over a " +
        "histogram is a SinglePartition window — use " +
        "Histogram.equiDepthSampled's hashSample boundaries instead")
    require(qs.nonEmpty, "need at least one percentile")
    qs.foreach { case (name, num, den) =>
      require(num > 0 && num <= den && den > 0,
        s"percentile $name = $num/$den must be in (0, 1]")
    }
    val keys = keyCols.map(col)
    val hist = df
      .select(keys :+ value.cast("long").as("__v"): _*)
      .filter(col("__v").isNotNull)
      .groupBy((keyCols :+ "__v").map(col): _*)
      .agg(count(lit(1)).as("__w"))
    // each (key, __v) row is unique post-aggregate, so the ROWS running
    // frame is well-defined (no peer ambiguity)
    val cum = hist
      .withColumn("__cum", sum(col("__w")).over(
        Window.partitionBy(keys: _*).orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", sum(col("__w")).over(Window.partitionBy(keys: _*)))
    val picks = qs.map { case (name, num, den) =>
      min(when(col("__cum") * den >= col("__n") * num, col("__v"))).as(name)
    }
    cum.groupBy(keys: _*)
      .agg(min(col("__n")).as("n"), picks: _*)
  }

  /** CCNET-STYLE per-group tercile bucketing (Wenzek et al. 2020 §4.3:
    * per-LANGUAGE head/middle/tail by LM perplexity — the standard
    * "keep the head, sample the middle, drop the tail" corpus split):
    * boundaries are EXACT rational percentile_disc(1/3, 2/3) per group
    * from [[histPercentiles]] (integer cum·den ≥ n·num — no float p,
    * no per-group ordered-set buffer), then every row labels
    * `head` (score ≤ t1), `middle` (≤ t2) or `tail`. LOWER scores are
    * better (perplexity semantics); negate upstream for
    * higher-is-better scores. `scoreCol` must be integral.
    *
    * Shape: the histogram machinery's two keyed passes plus one join
    * of the group-grain boundary frame back to rows
    * (broadcast-eligible — groups are languages/domains, a bounded
    * dim). Output: input columns + t1, t2, bucket. CONTRACT: scores
    * non-null (histPercentiles excludes nulls, and a group with only
    * null scores has no boundaries — its rows drop at the inner
    * join; filter or default upstream).
    */
  def bucketByGroupTerciles(
      df: DataFrame, groupCol: String, scoreCol: String): DataFrame = {
    val bounds = histPercentiles(df, Seq(groupCol), col(scoreCol),
      Seq(("t1", 1L, 3L), ("t2", 2L, 3L)))
    df.join(bounds.select(col(groupCol), col("t1"), col("t2")),
        Seq(groupCol))
      .withColumn("bucket",
        when(col(scoreCol) <= col("t1"), lit("head"))
          .when(col(scoreCol) <= col("t2"), lit("middle"))
          .otherwise(lit("tail")))
  }

  /** Robust center/spread (median + MAD) per key with NO ordered-set
    * buffer — the scale-safe twin of [[Profile.madRobust]], same output
    * (key, n, median, mad), same q143 oracle. Both passes run on the
    * value histogram: medians from the running weight, then the
    * deviation histogram is rebuilt at (key, |v − median|)-grain by
    * re-aggregating the WEIGHTS (never touching row-grain data again)
    * and the MAD read from its running weight.
    *
    * Shape: one (key, value) hash aggregate + checkpoint (two
    * consumers — the densifyDays multi-consumer lesson), two keyed
    * window passes, one broadcast join of the key-grain median frame.
    */
  def madRobustHist(df: DataFrame, keyCol: String, value: Column): DataFrame = {
    val hist = df
      .select(col(keyCol), value.cast("long").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col(keyCol), col("__v"))
      .agg(count(lit(1)).as("__w"))
      .localCheckpoint()
    val byKey = Window.partitionBy(col(keyCol))
    val med = hist
      .withColumn("__cum", sum(col("__w")).over(
        byKey.orderBy(col("__v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", sum(col("__w")).over(byKey))
      .groupBy(col(keyCol))
      .agg(min(col("__n")).as("n"),
        min(when(col("__cum") * 2 >= col("__n"), col("__v"))).as("median"))
    hist
      .join(med, Seq(keyCol))
      .groupBy(col(keyCol), col("n"), col("median"),
        abs(col("__v") - col("median")).as("__d"))
      .agg(sum(col("__w")).as("__w2"))
      .withColumn("__cum", sum(col("__w2")).over(
        byKey.orderBy(col("__d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("n"), col("median"))
      .agg(min(when(col("__cum") * 2 >= col("n"), col("__d"))).as("mad"))
      .select(col(keyCol), col("n"), col("median"), col("mad"))
  }
}
