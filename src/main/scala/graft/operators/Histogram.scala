package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Equi-width histogram — the distribution pass for range partitioning,
  * skew detection, and bucket sizing. Two passes over the data: a 1-row
  * (min, max) aggregate broadcast back (crossJoin of a single row — no
  * shuffle of the fact side), then a per-row bucket index and one
  * groupBy(bucket) count. The last bucket is closed ([lo, max]) via
  * least(…, buckets-1) so max lands in bucket n-1, matching the usual
  * equi-width convention. Degenerate case min == max ⇒ everything in
  * bucket 0.
  */
object Histogram {

  // NULLs are excluded from the histogram: floor(null) is null and
  // Spark's least() SKIPS nulls, so without the explicit isNotNull a
  // null value would silently land in the LAST bucket
  // (least(null, n-1) = n-1) — overcounting the top bucket on any
  // nullable column, and diverging from engines where least(NULL, x)
  // is NULL. min/max already ignore nulls, so dropping them keeps the
  // histogram consistent with its own bounds.
  def equiWidth(df: DataFrame, valueCol: Column, buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val mm = df.agg(
      min(valueCol.cast("double")).as("mn"), max(valueCol.cast("double")).as("mx"))
    df.select(valueCol.cast("double").as("v"))
      .filter(col("v").isNotNull)
      .crossJoin(mm)
      .select(
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(
            floor((col("v") - col("mn")) / ((col("mx") - col("mn")) / buckets)),
            lit(buckets - 1L)).cast("long"))
          .as("bucket"),
        col("mn"), col("mx"))
      .groupBy("bucket", "mn", "mx")
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        (col("mn") + col("bucket") * ((col("mx") - col("mn")) / buckets)).as("bucket_lo"),
        col("n"))
  }

  /** Equi-DEPTH histogram: bucket boundaries are exact discrete
    * quantiles (`percentile_disc` — actual data values, never the
    * interpolating percentile_cont whose FP blend is engine-dependent),
    * and a value lands in the first bucket whose upper boundary admits
    * it (v <= b_i). Comparisons only — no arithmetic on the values — so
    * the assignment is engine-exact, and ties at a boundary all go to
    * the same bucket (unlike ntile, whose tie split depends on row
    * order). Buckets can be EMPTY only when boundary values repeat
    * (heavy ties), which is itself the signal the histogram exists to
    * show.
    *
    * Shape: one ordered-set aggregate for the 1-row boundary frame
    * (broadcast), one conditional projection + groupBy over the scan.
    */
  def equiDepth(df: DataFrame, valueCol: String, buckets: Int): DataFrame =
    equiDepthFrom(df, df, valueCol, buckets)

  /** Scale-safe equi-depth: identical shape to [[equiDepth]], but the
    * percentile boundaries are computed on a DETERMINISTIC hash sample
    * (`Sampling.hashSample` keyed on `sampleKey`), so the single-reducer
    * ordered-set buffer holds rate·|df| values instead of |df| — the
    * knob that keeps exact `percentile_disc` viable at 100 TB (rate
    * 1e-5 of 100 TB ≈ a bounded in-memory sample; rank error of a
    * uniform m-row sample is O(1/√m), independent of corpus size).
    * Bucket COUNTS over the full data are still exact against the
    * sampled boundaries, and the md5 draw makes the whole result
    * engine-reproducible — the oracle replays the identical sample.
    */
  def equiDepthSampled(
      df: DataFrame, valueCol: String, buckets: Int, sampleKey: Column,
      rate: Double, salt: String = ""): DataFrame =
    equiDepthFrom(Sampling.hashSample(df, sampleKey, rate, salt),
      df, valueCol, buckets)

  /** Boundaries from `boundsSrc`, bucket counts over `df`. */
  private def equiDepthFrom(
      boundsSrc: DataFrame, df: DataFrame, valueCol: String,
      buckets: Int): DataFrame = {
    require(buckets >= 2 && buckets <= 100, s"buckets in [2,100], got $buckets")
    val qs = (1 until buckets).map(i => i.toDouble / buckets)
    val bExprs = qs.zipWithIndex.map { case (q, i) =>
      expr(s"percentile_disc($q) WITHIN GROUP (ORDER BY `$valueCol`)").as(s"b$i")
    }
    val bounds = boundsSrc.agg(bExprs.head, bExprs.tail: _*)
    val assign = (0 until buckets - 1).foldRight(lit(buckets - 1L)) {
      case (i, rest) => when(col("v") <= col(s"b$i"), i.toLong).otherwise(rest)
    }
    df.select(col(valueCol).as("v")).filter(col("v").isNotNull)
      .crossJoin(bounds)
      .select(assign.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
  }
}
