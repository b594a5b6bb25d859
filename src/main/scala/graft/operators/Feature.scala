package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Feature-preparation operators — the normalization passes a
  * training-data pipeline runs between raw ingest and model input:
  * outlier clipping, per-group scaling, last-known-value propagation.
  *
  * Everything here is deliberately engine-exact: clipping is
  * COMPARISON-only against exact discrete percentiles (values pass
  * through bit-identical), scaling is all-integer (permille, integer
  * div), and gap-fill copies existing values. No FP arithmetic is
  * invented anywhere, so results certify against an independent SQL
  * oracle hash-for-hash — the same discipline as Histogram.equiDepth
  * and Profile.trendSlope.
  */
object Feature {

  /** Winsorize (percentile-clip) `valueCol`: values below the loQ
    * discrete percentile are raised to it, above the hiQ percentile
    * lowered to it, everything else passes through untouched. Both
    * bounds are `percentile_disc` — ACTUAL data values, never
    * percentile_cont's engine-dependent FP blend — and the clip is
    * comparison-only, so every output value is bit-identical to some
    * input value. NULL values stay NULL (Spark's greatest/least SKIP
    * nulls, so an unguarded clip would silently fill nulls with the
    * upper bound — the Histogram.equiWidth null lesson).
    *
    * Shape: one ordered-set aggregate for the 1-row bounds frame
    * (broadcast back — the fact side never shuffles), one projection.
    */
  def winsorize(
      df: DataFrame, valueCol: String, loQ: Double, hiQ: Double,
      as: String = "clipped"): DataFrame =
    winsorizeFrom(df, df, valueCol, loQ, hiQ, as)

  /** Scale-safe winsorize: clip bounds computed on a DETERMINISTIC hash
    * sample (`Sampling.hashSample` on `sampleKey`) so the ordered-set
    * buffer holds rate·|df| values, not |df| — the
    * Histogram.equiDepthSampled knob applied to clipping. The clip over
    * the full data is still comparison-only against those bounds
    * (outputs bit-identical to inputs), and the md5 draw is
    * engine-reproducible, so the oracle certifies the exact rows.
    */
  def winsorizeSampled(
      df: DataFrame, valueCol: String, loQ: Double, hiQ: Double,
      sampleKey: Column, rate: Double, salt: String = "",
      as: String = "clipped"): DataFrame =
    winsorizeFrom(Sampling.hashSample(df, sampleKey, rate, salt),
      df, valueCol, loQ, hiQ, as)

  /** Bounds from `boundsSrc`, clip applied to `df`. */
  private def winsorizeFrom(
      boundsSrc: DataFrame, df: DataFrame, valueCol: String, loQ: Double,
      hiQ: Double, as: String): DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ <= hiQ, s"bad quantiles [$loQ, $hiQ]")
    val bounds = boundsSrc.agg(
      expr(s"percentile_disc($loQ) WITHIN GROUP (ORDER BY `$valueCol`)").as("__lo"),
      expr(s"percentile_disc($hiQ) WITHIN GROUP (ORDER BY `$valueCol`)").as("__hi"))
    df.crossJoin(bounds)
      .withColumn(as, when(col(valueCol).isNotNull,
        greatest(col("__lo"), least(col("__hi"), col(valueCol)))))
      .drop("__lo", "__hi")
  }

  /** Per-group min-max scaling to integer permille: out = ((v − min) ·
    * den) div (max − min) over the row's `keyCol` group — all-BIGINT,
    * bit-identical on any partitioning where a double (v − min) /
    * (max − min) would drift. Degenerate groups (max == min) scale to
    * 0; NULL values scale to NULL. `value` must be integral (cast
    * upstream — e.g. money as cents).
    *
    * Shape: two unordered same-partition windows (min + max) — ONE
    * keyed exchange, no sort (unordered window frames need none) —
    * then a pure projection.
    */
  def scaleMinMax(
      df: DataFrame, keyCol: String, value: Column, den: Long = 1000L,
      as: String = "scaled"): DataFrame = {
    require(den > 0, s"den must be positive, got $den")
    val w = Window.partitionBy(keyCol)
    df.withColumn("__v", value.cast("long"))
      .withColumn("__mn", min(col("__v")).over(w))
      .withColumn("__mx", max(col("__v")).over(w))
      .withColumn(as,
        when(col("__mx") > col("__mn"),
          expr(s"((__v - __mn) * ${den}L) div (__mx - __mn)"))
          .otherwise(when(col("__v").isNotNull, lit(0L))))
      .drop("__v", "__mn", "__mx")
  }

  /** Calendar densification: given a (key, day, measure) aggregate,
    * emit EVERY (key, day) cell over the data's full [min, max] day
    * range with `zero` where no row exists — the gap-free series
    * time-series reporting, EWMA/trend fitting, and chart axes need
    * (a missing day silently skews any trailing-window stat). Days are
    * 'yyyy-MM-dd' strings (the dayKey convention).
    *
    * Shape: a 1-row min/max aggregate, a distinct-keys frame crossed
    * with the exploded day scaffold (output-sized — keys × days, which
    * IS the result cardinality), and one left join back on
    * (key, day). No corpus-scale shuffle beyond the input aggregate's
    * own.
    */
  def densifyDays(
      df: DataFrame, keyCol: String, dayCol: String, measureCol: String,
      zero: Long = 0L): DataFrame = {
    // input is (key, day)-grain — output-sized — so materializing it
    // once is cheap and the three consumers below (min/max, distinct
    // keys, join back) don't re-run the caller's aggregation subtree
    // (the SKILL.md multi-consumer lesson). NULL keys are EXCLUDED
    // entirely: the scaffold equi-join can never match them, so
    // keeping them would fabricate zero-filled series while dropping
    // the real null-key rows — worse than absent.
    val daily = df.filter(col(keyCol).isNotNull).localCheckpoint()
    val mm = daily.agg(min(col(dayCol)).as("__lo"), max(col(dayCol)).as("__hi"))
    val scaffold = daily.select(col(keyCol)).distinct()
      .crossJoin(mm)
      .select(col(keyCol), explode(expr(
        "sequence(CAST(__lo AS DATE), CAST(__hi AS DATE), interval 1 day)"))
        .as("__d"))
      .select(col(keyCol), date_format(col("__d"), "yyyy-MM-dd").as(dayCol))
    scaffold.join(daily, Seq(keyCol, dayCol), "left")
      .withColumn(measureCol, coalesce(col(measureCol), lit(zero)))
  }

  /** Linear interpolation of missing values — the other half of
    * [[gapFill]]'s last-observation-carried-forward: a null `value` is
    * replaced by the integer lerp between the nearest non-null
    * neighbors on the `tUs` axis, prev_v + ((next_v − prev_v) ·
    * (t − prev_t)) div (next_t − prev_t) — all-BIGINT (both engines
    * truncate integer division toward zero, verified). Rows before the
    * first or after the last observation stay null (no extrapolation).
    * `orderCols` must be total per key; the neighbor columns are each
    * conditioned on the SAME value-not-null predicate, so prev_t and
    * prev_v always come from the same row without struct plumbing.
    *
    * Shape: one keyed exchange, two frames (running last + following
    * first) over one sort.
    */
  def interpolateLinear(
      df: DataFrame, keyCol: String, orderCols: Seq[Column], tUs: Column,
      value: Column, as: String = "interp"): DataFrame = {
    require(orderCols.nonEmpty, "need at least one order column")
    val wPrev = Window.partitionBy(keyCol).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.partitionBy(keyCol).orderBy(orderCols: _*)
      .rowsBetween(1, Window.unboundedFollowing)
    val v = value.cast("long")
    val t = tUs.cast("long")
    df.withColumn("__v", v).withColumn("__t", t)
      .withColumn("__pt", last(when(col("__v").isNotNull, col("__t")), ignoreNulls = true).over(wPrev))
      .withColumn("__pv", last(when(col("__v").isNotNull, col("__v")), ignoreNulls = true).over(wPrev))
      .withColumn("__nt", first(when(col("__v").isNotNull, col("__t")), ignoreNulls = true).over(wNext))
      .withColumn("__nv", first(when(col("__v").isNotNull, col("__v")), ignoreNulls = true).over(wNext))
      .withColumn(as,
        when(col("__v").isNotNull, col("__v"))
          // degenerate zero-length span (both neighbors at one t —
          // possible with tied timestamps): take prev, don't divide
          // (Spark's x div 0 is null but DuckDB's // 0 ERRORS)
          .when(col("__pt").isNotNull && col("__nt") > col("__pt"),
            expr("__pv + ((__nv - __pv) * (__t - __pt)) div (__nt - __pt)"))
          .when(col("__pt").isNotNull && col("__nt") === col("__pt"), col("__pv")))
      .drop("__v", "__t", "__pt", "__pv", "__nt", "__nv")
  }

  /** Forward-fill: per `keyCol`, carry the last non-null `value`
    * forward through the rows in `orderCols` order (sensor readings,
    * last-known account state, slowly-arriving attributes). Rows
    * before the key's first non-null value stay NULL. `orderCols` must
    * make the per-key order TOTAL (the q94 tie lesson) or "last" is
    * engine-dependent.
    *
    * Shape: one keyed exchange + one running `last(ignoreNulls)`
    * window — the AsofJoin.asofLeft fill machinery on a single frame.
    */
  def gapFill(
      df: DataFrame, keyCol: String, orderCols: Seq[Column], value: Column,
      as: String = "filled"): DataFrame = {
    require(orderCols.nonEmpty, "need at least one order column")
    val w = Window.partitionBy(keyCol).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(as, last(value, ignoreNulls = true).over(w))
  }
}
