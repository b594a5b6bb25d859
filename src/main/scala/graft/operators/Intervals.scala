package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval coalescing — merge overlapping/touching [start, end] spans
  * per key. The span-level primitive behind shipment/validity coverage
  * ("how many days was this order in transit"), redaction-span merging,
  * and chunk-overlap accounting.
  *
  * Algorithm: the classic sweep as ONE sorted window pass — order
  * intervals by (start, end) within the key, compute the running max of
  * `end` over the strictly-preceding rows, open a new span whenever
  * start exceeds it (inclusive bounds: start == prev-max still merges),
  * and the running sum of those open-flags is the span id. Both windows
  * share the same (partition, order) spec, so Catalyst plans one
  * exchange + one sort and evaluates the second window over the same
  * sorted run.
  *
  * Determinism with duplicate (start, end) rows (the synthetic lineitem
  * has thousands — the q94 lesson): ties can only produce an open-flag
  * on whichever duplicate the sort visits first, but every member of
  * the tie group lands in the SAME span id either way (a duplicate
  * after the first sees prev-max ≥ its own end, so its flag is 0), and
  * the span aggregates are order-insensitive — so the OUTPUT is total,
  * engine-independent, with no tiebreak column needed.
  *
  * Scale shape: one hash exchange on the key, per-key sorted windows
  * (never SinglePartition), then a partial-agg-friendly group on
  * (key, span). Rows with a null bound are dropped (an interval without
  * both bounds has no extent); callers wanting null accounting should
  * count them upstream.
  */
object Intervals {

  /** One row per merged span: (key, span_seq, span_start, span_end,
    * n_merged). `span_seq` numbers spans 1..n in start order within the
    * key. Intervals are inclusive on both bounds; start must be ≤ end.
    */
  def coalesceIntervals(
      df: DataFrame, keyCol: String, startCol: String, endCol: String): DataFrame = {
    val wOrd = Window.partitionBy(keyCol).orderBy(col(startCol), col(endCol))
    val prevMax = max(col(endCol))
      .over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    df.filter(col(startCol).isNotNull && col(endCol).isNotNull)
      .withColumn("__open",
        when(prevMax.isNull || col(startCol) > prevMax, 1L).otherwise(0L))
      .withColumn("span_seq",
        sum(col("__open")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(keyCol), col("span_seq"))
      .agg(min(col(startCol)).as("span_start"), max(col(endCol)).as("span_end"),
        count(lit(1)).as("n_merged"))
  }

  /** Concurrency sweep — "how many [startUs, endUs] intervals are open
    * at each moment" (concurrent sessions, active connections, overlap
    * load) as a DISTRIBUTED prefix sum, never a single global sort of
    * the data:
    *
    *   1. explode each interval into (+1 at start, −1 at end+1µs)
    *      boundary deltas (inclusive-end convention: a zero-length
    *      interval still covers its own microsecond);
    *   2. hash-aggregate net delta per (bucket, ts_us) — the
    *      corpus-scale work, partial-agg combines;
    *   3. running sum WITHIN each bucket (keyed window, per-bucket
    *      sort);
    *   4. carry-in offset per bucket = running sum of bucket totals
    *      over the bucket-grain frame (tiny — e.g. one row per day),
    *      broadcast-joined back.
    *
    * conc = carry + within-bucket running sum is the exact global
    * sweep value at each distinct ts_us, all-integer. Buckets are
    * `ts_us div bucketUsDiv` (86400000000 = UTC days) — monotone in
    * ts_us by construction, which the carry order requires. The
    * carry window itself is bucket-grain (SinglePartition over one
    * row per day — never the data).
    */
  def concurrency(
      df: DataFrame, startUs: org.apache.spark.sql.Column,
      endUs: org.apache.spark.sql.Column, bucketUsDiv: Long): DataFrame = {
    require(bucketUsDiv > 0, s"bucketUsDiv must be positive, got $bucketUsDiv")
    // checkpointed: both the carry aggregate and the main join consume
    // this frame, and without it the interval explode + hash aggregate
    // (plus whatever produced `df`) re-execute per consumer — the
    // SKILL.md multi-consumer lesson. The frame is (bucket, ts_us)
    // grain, already far smaller than the boundary stream.
    val deltas = df
      .filter(startUs.isNotNull && endUs.isNotNull)
      .select(explode(array(
        struct(startUs.cast("long").as("ts_us"), lit(1L).as("d")),
        struct((endUs.cast("long") + 1L).as("ts_us"), lit(-1L).as("d")))).as("e"))
      .select(col("e.ts_us"), col("e.d"))
      .groupBy(expr(s"ts_us div ${bucketUsDiv}L").as("bucket"), col("ts_us"))
      .agg(sum(col("d")).as("delta"))
      .localCheckpoint()
    val wIn = Window.partitionBy("bucket").orderBy("ts_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCarry = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = deltas.groupBy("bucket").agg(sum(col("delta")).as("__bd"))
      .withColumn("carry", coalesce(sum(col("__bd")).over(wCarry), lit(0L)))
      .select("bucket", "carry")
    deltas.join(carries, Seq("bucket"))
      .withColumn("conc", col("carry") + sum(col("delta")).over(wIn))
      .select("bucket", "ts_us", "conc")
  }
}
