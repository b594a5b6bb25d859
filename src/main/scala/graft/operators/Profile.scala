package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-profiling surface (the ANALYZE-style pass a 100-TB ingest runs
  * before anything else): per-column row/null/distinct counts and
  * lexicographic min/max, computed in ONE aggregate over one scan —
  * never one job per column. Multiple count_distincts expand via
  * Catalyst's Expand (one shuffle, |cols| row replicas), which is the
  * standard multi-distinct plan; for wider tables swap the exact
  * distinct for approx_count_distinct and the expand disappears.
  * The wide 1-row result is then unpivoted driver-free into one row
  * per column.
  */
object Profile {

  /** The count-family aggregates (all long buffers — hash-aggregable)
    * and the min/max renders (string buffers after the cast) are
    * computed in SEPARATE passes and recombined with a crossJoin of
    * two 1-row frames (round-19 optimization). In one combined
    * aggregate, the string-typed min/max buffers disqualify
    * HashAggregateExec for the WHOLE aggregate, so the multi-distinct
    * Expand (|cols|+1 row replicas) ran through Sort + SortAggregate —
    * the sort of the expanded stream dominated the pass (measured 2.5 s
    * → 0.8 s on the sf0.1 orders profile; plan: Sort+SortAggregate×4
    * over Expand → HashAggregate×4 over Expand, plus a sortless
    * SortAggregate over the un-expanded scan for min/max). At scale the
    * trade is one extra column-pruned scan versus sorting (|cols|+1)×
    * the table — the scan is cheaper in every regime where a profile
    * pass is run.
    *
    * DETERMINISM ASSUMPTION (round-20 ADVICE): the two passes are
    * independent jobs over `df` — on a deterministic input they see the
    * same rows and the recombined row is bit-identical to the single
    * aggregate's. A non-deterministic or concurrently-changing input
    * (sample(), rand-derived frames, a table being appended) could put
    * the count columns and the min/max columns on different snapshots;
    * callers profiling such inputs must localCheckpoint `df` first.
    */
  private def splitAgg(
      df: DataFrame, cols: Seq[String],
      distinctAgg: String => Column): DataFrame = {
    val countAggs = cols.flatMap { c =>
      Seq(
        count(lit(1)).as(s"${c}__rows"),
        (count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
        distinctAgg(c).as(s"${c}__distinct"))
    }
    val mmAggs = cols.flatMap { c =>
      Seq(
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    df.agg(countAggs.head, countAggs.tail: _*)
      .crossJoin(df.agg(mmAggs.head, mmAggs.tail: _*))
  }

  /** One row per profiled column: (column, n_rows, n_null, n_distinct,
    * min_val, max_val) with min/max rendered as strings so mixed-type
    * tables profile into one frame.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    unpivot(splitAgg(df, cols, c => count_distinct(col(c))), cols)
  }

  /** Approximate profile: same shape with HLL distinct counts
    * (rsd ~2.3%) — no multi-distinct Expand, so the count pass stays a
    * single narrow hash aggregate; the right default when the profile
    * feeds sizing heuristics rather than exact reporting (see q67's
    * BASELINE note: the exact form's Expand is ~2× the suite cost).
    */
  def profileApprox(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    unpivot(splitAgg(df, cols, c => approx_count_distinct(col(c))), cols)
  }

  /** KEY-SKEW profile — "measure before you salt": the top-N heaviest
    * values of a prospective shuffle key with each one's share of the
    * table and of the heaviest reducer a plain hash partition would
    * see. The decision input for SkewSalt/AQE-skew-join tuning: a key
    * with share 0.3 means one reducer gets 30 % of the data however
    * many partitions you use. One keyed count (combiner-pushed: the
    * map side emits one row per distinct key per task) + a 1-row total
    * broadcast + a rank on the COUNTS frame (|distinct keys| rows, not
    * the table). Null keys count as a group — at 100 TB null-heavy
    * keys are the single most common skew cause.
    */
  def keySkew(df: DataFrame, keyCol: String, topN: Int = 10): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val counts = df.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__total"))
    // orderBy+limit plans as TakeOrderedAndProject — per-partition
    // top-N heaps, never a single-partition sort of the counts frame
    // (which for a high-cardinality key is itself big). The rank window
    // then runs over ≤ topN rows.
    counts.crossJoin(total)
      .withColumn("share", col("n").cast("double") / col("__total").cast("double"))
      .orderBy(col("n").desc, col("key").asc_nulls_first)
      .limit(topN)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("key").asc_nulls_first)).cast("long"))
      .select(col("rank"), col("key").cast("string").as("key"), col("n"), col("share"))
  }

  /** Pairwise set overlap between groups ("audience overlap"): for
    * every pair of groups, how many members they share, with an
    * integer-exact Jaccard in parts-per-million. The segmentation
    * primitive behind "do purchase-event users overlap view-event
    * users" and domain-membership comparisons.
    *
    * Shape: the corpus collapses to DISTINCT (group, member) first
    * (one corpus-scale shuffle, map-side combinable), the self-join
    * runs member-keyed with fan-out (#groups containing the member)²
    * per member — bounded by the GROUP cardinality squared, not the
    * member count, so it scales when groups are few (event types,
    * domains, splits). The Jaccard is (n_common · 10^6) div
    * (n_a + n_b − n_common): integer div, engine-exact — no FP.
    */
  def setOverlap(df: DataFrame, groupCol: String, memberCol: String): DataFrame = {
    val sets = df.select(col(groupCol).as("grp"), col(memberCol).as("member"))
      .filter(col("grp").isNotNull && col("member").isNotNull)
      .distinct()
    val sizes = sets.groupBy("grp").agg(count(lit(1)).as("n"))
    sets.as("a")
      .join(sets.as("b"),
        col("a.member") === col("b.member") && col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("grp").as("grp_a"), col("n").as("n_a")), "grp_a")
      .join(sizes.select(col("grp").as("grp_b"), col("n").as("n_b")), "grp_b")
      .withColumn("jaccard_ppm",
        expr("(n_common * 1000000) div (n_a + n_b - n_common)"))
      .select("grp_a", "grp_b", "n_a", "n_b", "n_common", "jaccard_ppm")
  }

  /** MinHash set-similarity CONTRACT: estimate the Jaccard similarity
    * of each group pair from k independent min-hash registers (one
    * xxhash64 seed per register — a MERGEABLE sketch: min combines
    * map-side, registers union across shards), then verify the
    * estimate against [[setOverlap]]'s exact Jaccard within `tolPpm`.
    * Output keeps the exact columns plus the boolean verdict; the
    * estimate itself stays internal (an oracle cannot reproduce JVM
    * xxhash64, but it CAN pin the guarantee — the q62/q145 pattern).
    * With k = 128 the standard error is ≤ 0.045, so tolPpm = 150000
    * (±0.15) holds with high margin.
    *
    * Scale: the sketch is one wide grouped aggregate over the DISTINCT
    * (group, member) pairs + a group-grain pair join — the exact side's
    * member-level self-join is the expensive half, which is exactly
    * why the sketch exists; at production scale you run the sketch
    * alone and certify it offline on a sample, as here.
    */
  def minhashSetContract(
      df: DataFrame, groupCol: String, memberCol: String, k: Int = 128,
      tolPpm: Long = 150000L): DataFrame = {
    require(k >= 16 && k <= 512, s"k in [16,512], got $k")
    val pairs = df.select(col(groupCol).as("grp"), col(memberCol).as("member"))
      .filter(col("grp").isNotNull && col("member").isNotNull)
      .distinct()
    val sigs = pairs.groupBy("grp").agg(
      array((0 until k).map(i => min(xxhash64(lit(i), col("member")))): _*)
        .as("sig"))
    val est = sigs.as("a")
      .join(sigs.as("b"), col("a.grp") < col("b.grp"))
      .select(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"),
        size(filter(zip_with(col("a.sig"), col("b.sig"),
          (x, y) => when(x === y, lit(1))), c => c.isNotNull)).as("__match"))
    // Verify from the FULL pair frame (the sigs self-join), not from
    // setOverlap's output: setOverlap only emits pairs with ≥1 shared
    // member, so DISJOINT pairs — where a spuriously high minhash
    // estimate is exactly the failure of interest — would never be
    // checked (round-7 advisory). Missing exact rows mean jaccard = 0.
    val sizes = pairs.groupBy("grp").agg(count(lit(1)).as("__n"))
    est
      .join(setOverlap(df, groupCol, memberCol), Seq("grp_a", "grp_b"), "left")
      .join(sizes.select(col("grp").as("grp_a"), col("__n").as("__na")), Seq("grp_a"))
      .join(sizes.select(col("grp").as("grp_b"), col("__n").as("__nb")), Seq("grp_b"))
      .select(col("grp_a"), col("grp_b"),
        coalesce(col("n_a"), col("__na")).as("n_a"),
        coalesce(col("n_b"), col("__nb")).as("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        coalesce(col("jaccard_ppm"), lit(0L)).as("jaccard_ppm"),
        col("__match"))
      .withColumn("sketch_ok",
        abs(expr(s"(__match * 1000000) div $k") - col("jaccard_ppm"))
          <= lit(tolPpm))
      .drop("__match")
  }

  /** Trailing-window spike detection in INTEGER arithmetic: a period is
    * a spike when its value exceeds num/den × the trailing-`window`
    * mean — tested as den·window·value > num·trailing_sum, so no
    * division, no FP, engine-exact. Periods whose trailing window is
    * not yet full report spike = false (no basis for comparison); the
    * trailing sum is emitted so downstream can re-threshold without
    * recomputing the window.
    *
    * Shape: one keyed exchange + one sorted window per key — the
    * monitoring pass a 100-TB ingest runs per (metric, day) AFTER
    * aggregating to period grain, so the window input is metric-grain
    * small. `periodCol` must be unique per key.
    */
  def trailingSpikes(
      df: DataFrame, keyCol: String, periodCol: String, valueCol: String,
      window: Int, num: Long, den: Long): DataFrame = {
    require(window >= 1 && num > 0 && den > 0,
      s"need window >= 1 and positive ratio, got $window $num/$den")
    val tw = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(periodCol).rowsBetween(-window, -1)
    df.withColumn("trail_sum",
        coalesce(sum(col(valueCol).cast("long")).over(tw), lit(0L)))
      .withColumn("__trail_n", count(col(valueCol)).over(tw))
      .withColumn("spike",
        col("__trail_n") === window &&
          lit(den) * lit(window.toLong) * col(valueCol).cast("long") >
            lit(num) * col("trail_sum"))
      .drop("__trail_n")
  }

  /** Per-key least-squares trend slope with EXACT integer moments:
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) where x and y are
    * integral columns — the five moments are BIGINT sums (associative,
    * partition-order-independent), the numerator/denominator are BIGINT
    * products, and the ONLY floating-point operation is the final
    * division. The usual FP regression accumulates doubles in shuffle
    * order and drifts between runs/engines; this one is bit-stable and
    * oracle-exact. Degenerate keys (all x equal → den = 0) report a
    * null slope rather than ±Inf.
    *
    * Callers must pre-scale: center x near 0 (e.g. days since the
    * window start, not epoch) and quantize y (e.g. cents) so
    * n·Σxy stays far from 2^63. One groupBy — map-side partial moments,
    * one shuffle of 5 numbers per key per task.
    */
  def trendSlope(df: DataFrame, keyCol: String, x: Column, y: Column): DataFrame = {
    val withXY = df.select(col(keyCol),
      x.cast("long").as("__x"), y.cast("long").as("__y"))
    withXY.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
        sum(col("__x") * col("__y")).as("sxy"), sum(col("__x") * col("__x")).as("sxx"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("slope",
        when(col("den") =!= 0L, col("num").cast("double") / col("den").cast("double")))
      .select(keyCol, "n", "num", "den", "slope")
  }

  /** Integer exponential smoothing (EWMA) with α = 2^-shift: per key,
    * walk the series in `orderCol` order and fold
    * s₁ = y₁, sₜ = (yₜ + (2^shift − 1)·sₜ₋₁) >> shift — all BIGINT
    * shifts/adds, so the smoothed value is engine- and
    * partitioning-exact (an FP EWMA drifts in the last ulps per merge
    * order). Values must be NON-NEGATIVE integers (>> is floor
    * division only for non-negative operands — enforced).
    *
    * Shape: one keyed exchange collecting each key's (order, value)
    * series, then a codegen'd higher-order fold — the funnel-walk
    * pattern; series length per key is the state bound (fine for
    * per-metric daily series; not for per-user raw events).
    */
  def ewma(
      df: DataFrame, keyCol: String, orderCol: Column, valueCol: Column,
      shift: Int): DataFrame = {
    require(shift >= 1 && shift <= 30, s"shift in [1,30], got $shift")
    val mul = (1L << shift) - 1
    df.select(col(keyCol), struct(orderCol.as("o"), valueCol.cast("long").as("y")).as("p"))
      .filter(col("p.y").isNotNull && col("p.o").isNotNull)
      .filter(col("p.y") >= 0)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(col("p"))).as("ps"))
      .withColumn("ys", transform(col("ps"), p => p("y")))
      .select(col(keyCol), size(col("ys")).as("n_points"),
        aggregate(slice(col("ys"), lit(2), greatest(size(col("ys")) - 1, lit(0))),
          element_at(col("ys"), 1),
          (acc, y) => shiftright(y + lit(mul) * acc, shift)).as("ewma"))
  }

  /** State-transition (Markov) matrix: per key, count consecutive
    * (from → to) state pairs in `orderCols` order — the behavioral
    * "what follows what" profile (event flows, page paths). The order
    * columns must form a total order within each key (pass a unique id
    * as the last tiebreak, or lag() picks an engine-dependent
    * predecessor on ties — the q94 lesson). One keyed exchange + one
    * lag window + a partial-agg count; each key's first event has no
    * predecessor and is excluded. NULL STATES: a null `stateCol` is a
    * value on the to-side (X→null is counted) but indistinguishable
    * from "no predecessor" on the from-side, so null→X pairs are
    * dropped with the firsts — callers with nullable states should
    * coalesce to a sentinel first (same asymmetry in pathTrigrams).
    */
  def transitions(
      df: DataFrame, keyCol: String, orderCols: Seq[Column],
      stateCol: Column): DataFrame = {
    require(orderCols.nonEmpty, "need at least one order column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(orderCols: _*)
    df.withColumn("__to", stateCol)
      .withColumn("__from", lag(col("__to"), 1).over(w))
      .filter(col("__from").isNotNull)
      .groupBy(col("__from").as("from_state"), col("__to").as("to_state"))
      .agg(count(lit(1)).as("n"))
  }

  /** Order-3 generalization of [[transitions]]: per key, count each
    * consecutive state TRIGRAM (a → b → c) in `orderCols` order and
    * return the global top `topN` by count (count desc, then the
    * trigram itself — a total order, so the cut is engine-exact). The
    * "common user journeys" / path-mining primitive. Same contract as
    * transitions: `orderCols` must be total within each key.
    *
    * Shape: ONE keyed exchange + ONE window sort serving two lag()
    * calls (same window spec ⇒ one physical Window node), partial-agg
    * count (the trigram domain is |states|³ — tiny — so the aggregate
    * map-side collapses), then a TakeOrdered topN — no global sort.
    */
  def pathTrigrams(
      df: DataFrame, keyCol: String, orderCols: Seq[Column],
      stateCol: Column, topN: Int): DataFrame = {
    require(orderCols.nonEmpty, "need at least one order column")
    require(topN > 0, s"topN must be positive, got $topN")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(orderCols: _*)
    df.withColumn("__c", stateCol)
      .withColumn("__b", lag(col("__c"), 1).over(w))
      .withColumn("__a", lag(col("__c"), 2).over(w))
      .filter(col("__a").isNotNull)
      .groupBy(col("__a").as("s1"), col("__b").as("s2"), col("__c").as("s3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("s1"), col("s2"), col("s3"))
      .limit(topN)
  }

  /** Distribution-drift report between two cohorts (epochs, shards,
    * before/after a pipeline change): per category, the counts in each
    * cohort and the ALL-INTEGER total-variation numerator
    * |n_a·N_b − n_b·N_a| — zero iff the category's share is identical
    * in both cohorts; Σ numerator / (2·N_a·N_b) is the TV distance.
    * Cross-multiplied counts instead of FP proportions: bit-exact on
    * any partitioning, no ε-tolerance needed in monitoring.
    *
    * Rows where `inB` evaluates NULL belong to NEITHER cohort and are
    * dropped (SQL FILTER semantics — an otherwise-branch would
    * silently fold them into cohort A and diverge from any
    * FILTER-based truth). One hash groupBy + a 1-row total broadcast
    * back; the category-grain aggregate is checkpointed once so the
    * totals pass doesn't re-scan the corpus. Overflow: n·N < 2^63.
    */
  def distDrift(df: DataFrame, cat: Column, inB: Column): DataFrame = {
    val g = df.filter(inB.isNotNull)
      .groupBy(cat.as("category")).agg(
        sum(when(inB, 0L).otherwise(1L)).as("n_a"),
        sum(when(inB, 1L).otherwise(0L)).as("n_b"))
      .localCheckpoint()
    val tot = g.agg(sum(col("n_a")).as("__ta"), sum(col("n_b")).as("__tb"))
    g.crossJoin(tot)
      .select(col("category"), col("n_a"), col("n_b"),
        abs(col("n_a") * col("__tb") - col("n_b") * col("__ta")).as("drift_num"))
  }

  /** Per-key Pearson correlation from EXACT integer moments — the
    * trendSlope discipline widened to the full second-moment set:
    * (n, Σx, Σy, Σx², Σy², Σxy) accumulate in BIGINT (bit-stable on
    * any partitioning; an accumulated-double corr drifts), and the
    * only FP is the final fixed-shape expression
    * num / (sqrt(dx) · sqrt(dy)) — identical IEEE ops in any engine.
    * Degenerate keys (either variance zero) → null. `x`/`y` must be
    * integral; overflow bound n·Σx·Σy < 2^63.
    */
  def corrMoments(
      df: DataFrame, keyCol: String, x: Column, y: Column): DataFrame =
    df.select(col(keyCol), x.cast("long").as("__x"), y.cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
        sum(col("__x") * col("__x")).as("sxx"),
        sum(col("__y") * col("__y")).as("syy"),
        sum(col("__x") * col("__y")).as("sxy"))
      .withColumn("corr",
        expr("""CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE) /
                  (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                   sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END"""))

  /** Robust center/spread per key: median and MAD (median absolute
    * deviation) — the outlier-resistant alternative to mean/stddev for
    * monitoring skewed pipeline metrics. Both are `percentile_disc`
    * (ACTUAL data values; on integral inputs the whole report is
    * integer-exact — no FP anywhere). NULL values are excluded.
    *
    * Shape: one grouped ordered-set aggregate for the medians, a
    * broadcast join back (key-grain frame — tiny), then a second
    * grouped ordered-set aggregate over |v − med|. Two aggregation
    * passes is inherent to MAD (the deviation needs the median first);
    * both are hash-partitioned on the key, never global.
    */
  def madRobust(df: DataFrame, keyCol: String, value: Column): DataFrame = {
    val v = df.select(col(keyCol), value.cast("long").as("__v"))
      .filter(col("__v").isNotNull)
    // percentile_disc picks an ACTUAL data value but TYPES it double —
    // cast back to the integral input type or the report's exactness
    // claim dies at the schema (q143 lesson)
    val med = v.groupBy(keyCol).agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __v)")
        .cast("long").as("median"),
      count(lit(1)).as("n"))
    v.join(med, Seq(keyCol))
      .withColumn("__d", abs(col("__v") - col("median")))
      .groupBy(col(keyCol), col("n"), col("median"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY __d)")
        .cast("long").as("mad"))
      .select(col(keyCol), col("n"), col("median"), col("mad"))
  }

  /** Mergeable-quantile-sketch CONTRACT (the q62/q81 discipline for
    * approx_percentile): per key, run Spark's partial-aggregable
    * quantile sketch at `accuracy` (relative rank error ε = 1/accuracy)
    * and verify the guarantee AGAINST THE DATA — the exact rank of each
    * returned value must lie within (p ± ε)·n (+2 slack for the
    * boundary). Output (key, n, p50_ok, p95_ok); the oracle pins the
    * booleans true. This certifies the sketch configuration, not a
    * specific value — approx results are merge-order-dependent, their
    * GUARANTEES are not (the Misra-Gries lesson).
    *
    * Scale: the sketch map-side combines (one pass); the verify join
    * back is a broadcast of the key-grain frame + one more aggregate.
    */
  def approxQuantileContract(
      df: DataFrame, keyCol: String, value: Column,
      accuracy: Int = 1000): DataFrame = {
    require(accuracy >= 10, s"accuracy >= 10, got $accuracy")
    val v = df.select(col(keyCol), value.cast("long").as("__v"))
      .filter(col("__v").isNotNull)
    val ap = v.groupBy(keyCol).agg(
      expr(s"approx_percentile(__v, array(0.5D, 0.95D), $accuracy)").as("__ap"),
      count(lit(1)).as("n"))
    // With duplicates the returned VALUE occupies a rank INTERVAL
    // [count(< v), count(<= v)] — a heavily-tied median can have
    // count(<= v) far above p·n and still be exactly right. The
    // guarantee is satisfied iff that interval intersects (p ± ε)·n:
    // count(< v) must not start above the band, count(<= v) must not
    // end below it.
    def ok(rLt: Column, rLe: Column, p: Double): Column = {
      val eps = 1.0 / accuracy
      (rLt <= (lit(p + eps) * col("n") + 2)) &&
        (rLe >= (lit(p - eps) * col("n") - 2))
    }
    v.join(ap, Seq(keyCol))
      .groupBy(col(keyCol), col("n"), col("__ap"))
      .agg(
        sum(when(col("__v") < col("__ap")(0), 1L).otherwise(0L)).as("__lt50"),
        sum(when(col("__v") <= col("__ap")(0), 1L).otherwise(0L)).as("__le50"),
        sum(when(col("__v") < col("__ap")(1), 1L).otherwise(0L)).as("__lt95"),
        sum(when(col("__v") <= col("__ap")(1), 1L).otherwise(0L)).as("__le95"))
      .select(col(keyCol), col("n"),
        ok(col("__lt50"), col("__le50"), 0.5).as("p50_ok"),
        ok(col("__lt95"), col("__le95"), 0.95).as("p95_ok"))
  }

  /** Weighted median from a pre-aggregated (value, weight) histogram —
    * the way a 100-TB median is actually computed: aggregate the data
    * to its value histogram first (hash agg, partial combine), then
    * pick the smallest value whose inclusive running weight reaches
    * half the total. All-integer (2·cum ≥ tot — no division), one
    * keyed window over the HISTOGRAM, never a sort of the data.
    * Non-positive weights are dropped; duplicate (key, value) rows are
    * safe (any crossing copy yields the same min value).
    */
  def weightedMedian(
      df: DataFrame, keyCol: String, valueCol: String,
      weightCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(valueCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy(keyCol)
    df.select(col(keyCol), col(valueCol),
        col(weightCol).cast("long").as("__w"))
      .filter(col("__w") > 0)
      .withColumn("__cum", sum(col("__w")).over(w))
      .withColumn("__tot", sum(col("__w")).over(wTot))
      .filter(col("__cum") * 2 >= col("__tot"))
      .groupBy(keyCol)
      .agg(min(col(valueCol)).as("wmedian"), max(col("__tot")).as("total_weight"))
  }

  private def unpivot(wide: DataFrame, cols: Seq[String]): DataFrame =
    // inline(array(struct…)) with uniform field names, not stack():
    // stack derives struct field names from its argument columns, and
    // Spark 4 rejects the per-column name differences as a type mismatch
    wide.select(inline(array(cols.map { c =>
      struct(
        lit(c).as("column_name"),
        col(s"${c}__rows").as("n_rows"),
        col(s"${c}__nulls").as("n_null"),
        col(s"${c}__distinct").as("n_distinct"),
        col(s"${c}__min").as("min_val"),
        col(s"${c}__max").as("max_val"))
    }: _*)))
}
