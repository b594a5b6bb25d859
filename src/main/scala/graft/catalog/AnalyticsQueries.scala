package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.TextAnalysis
import graft.functions.ColumnLib._

import Shared._

/** Statistics and scheduling: sampling and mixing, sketches and
  * quantiles, profiles and histograms, time-series measures, drift,
  * calibration curves and weighted schedules.
  */
object AnalyticsQueries {

  /** q336/q338 shared scored corpus: score = en-stopword hit ppm
    * (ONE tokenizer run behind a Generate barrier — the q215 no-CSE
    * rule), label = the certified withLangGuess == 'en'. One
    * definition so the incremental curve scores the same corpus the
    * one-shot does.
    */
  private def prScoredDocs(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val docs = t(s, dir, "documents").select(id, col("text"))
      .repartition(32, id)
    val enList = TextAnalysis.LangProfiles.head._2
    val staged = docs.select(id,
      explode_outer(array(TextAnalysis.tokens(col("text")))).as("__toks"))
    val hits = size(filter(col("__toks"),
      t => t.isin(enList: _*))).cast("long")
    val total = size(col("__toks")).cast("long")
    val score = when(total <= 0L, lit(0L))
      .otherwise(((hits * 1000000L - pmod(hits * 1000000L, total)) / total)
        .cast("long"))
    val lang = TextAnalysis.withLangGuess(docs, "text", "__lang")
      .select(id, (col("__lang") === "en").as("label"))
    staged.select(id, score.as("score")).join(lang, Seq("doc_id"))
  }

  /** q336/q338/q348 shared score CTEs — per-doc en-stopword score
    * and lang label (`lab(doc_id, is_en, score)`), ending WITHOUT a
    * trailing comma.
    */
  private val PrScoreCtes: String =
      """WITH tok AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, x -> x IN ('the','and','of','to','is','in','that','it','with','for'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('el','la','de','que','y','los','las','por','con','una'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('der','die','und','das','ist','nicht','ein','mit','von','den'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('le','la','les','et','est','des','une','dans','pour','que'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('il','di','che','la','per','una','sono','non','con','del'))) AS s_it,
        |    len(toks) AS n
        |  FROM tok),
        |lab AS (
        |  SELECT doc_id,
        |    CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_it) = 0 THEN FALSE
        |         WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_it) THEN TRUE
        |         ELSE FALSE END AS is_en,
        |    CASE WHEN n = 0 THEN 0 ELSE (s_en * 1000000) // n END AS score
        |  FROM sc)""".stripMargin

  /** q336/q338 shared oracle — the one-shot calibration curve;
    * ONE definition so the merged-state variant cannot drift from
    * the surface it must equal.
    */
  private val PrCurveSql: String = PrScoreCtes +
      """,
        |ps AS (
        |  SELECT score AS threshold, count(*) AS n,
        |    sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS npos
        |  FROM lab GROUP BY 1),
        |cum AS (
        |  SELECT threshold,
        |    sum(n) OVER (ORDER BY threshold DESC) AS pred_pos,
        |    sum(npos) OVER (ORDER BY threshold DESC) AS tp
        |  FROM ps),
        |tot AS (
        |  SELECT sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS totpos FROM lab)
        |SELECT threshold,
        |  CAST(pred_pos AS BIGINT) AS pred_pos, CAST(tp AS BIGINT) AS tp,
        |  CAST(pred_pos - tp AS BIGINT) AS fp,
        |  CAST(totpos - tp AS BIGINT) AS fn,
        |  CAST((tp * 1000000) // pred_pos AS BIGINT) AS precision_ppm,
        |  CAST(CASE WHEN totpos = 0 THEN 0
        |       ELSE (tp * 1000000) // totpos END AS BIGINT) AS recall_ppm
        |FROM cum, tot""".stripMargin

  /** q345/q349 shared oracle CTEs — the integer error-diffusion
    * interleave over the 20-source residue weights, ending with
    * `sch(doc_id, source, src_rank, position)`.
    */
  private val WeightedInterleaveCtes: String =
    """WITH k AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS k
      |  FROM documents),
      |ky AS (
      |  SELECT doc_id, source, k,
      |    (2 * k - 1) * (6 // (CAST(regexp_extract(source, 'src([0-9]+)', 1)
      |      AS BIGINT) % 3 + 1)) AS key
      |  FROM k),
      |sch AS (
      |  SELECT doc_id, source, CAST(k AS BIGINT) AS src_rank,
      |    CAST(row_number() OVER (ORDER BY key, source) AS BIGINT) AS position
      |  FROM ky)
      |""".stripMargin

  /** q355/q356 shared oracle suffix — the sizeSourcesToWeights →
    * weightedInterleave → scheduleMixReport chain, closed-form: the
    * caller supplies an `inp(id, src)` CTE and the per-source weight
    * expression; this mirrors T = min(n·W/w), the largest-remainder
    * apportionment (remainder rank DESC, ties by src), the
    * first-alloc trim, the lcm-6 error-diffusion interleave (both
    * weight sets are {1,2,3}), and the exact integer deviation audit.
    * ONE definition so the two certified compositions cannot drift.
    */
  private def sizedInterleaveAuditSql(wExpr: String): String =
    s""",
      |cnts AS (
      |  SELECT src, CAST(count(*) AS BIGINT) AS n,
      |    CAST($wExpr AS BIGINT) AS wgt
      |  FROM inp GROUP BY src),
      |tot AS (SELECT CAST(sum(wgt) AS BIGINT) AS wt FROM cnts),
      |tt AS (SELECT CAST(min((n * wt) // wgt) AS BIGINT) AS t
      |       FROM cnts, tot),
      |qa AS (
      |  SELECT src, wgt, t, wt,
      |    CAST((t * wgt) // wt AS BIGINT) AS quota,
      |    CAST((t * wgt) % wt AS BIGINT) AS rem
      |  FROM cnts, tot, tt),
      |lv AS (SELECT CAST(t - sum(quota) AS BIGINT) AS lft
      |       FROM qa GROUP BY t),
      |al AS (
      |  SELECT src, quota + CASE WHEN
      |      row_number() OVER (ORDER BY rem DESC, src) <= lft
      |    THEN 1 ELSE 0 END AS alloc
      |  FROM qa, lv),
      |ranked AS (
      |  SELECT id, src,
      |    row_number() OVER (PARTITION BY src ORDER BY id) AS srk
      |  FROM inp),
      |sized AS (
      |  SELECT r.id, r.src FROM ranked r
      |  JOIN al ON r.src = al.src WHERE r.srk <= al.alloc),
      |k2 AS (
      |  SELECT id, src,
      |    row_number() OVER (PARTITION BY src ORDER BY id) AS k
      |  FROM sized),
      |ky2 AS (
      |  SELECT k2.id, k2.src, k2.k, (2 * k2.k - 1) * (6 // c.wgt) AS key
      |  FROM k2 JOIN cnts c ON k2.src = c.src),
      |sch2 AS (
      |  SELECT id, src, CAST(k AS BIGINT) AS src_rank,
      |    CAST(row_number() OVER (ORDER BY key, src) AS BIGINT) AS position
      |  FROM ky2)
      |SELECT s.src AS source, CAST(count(*) AS BIGINT) AS n_items,
      |  CAST(max(abs(s.src_rank * t.wt - s.position * c.wgt)) AS BIGINT)
      |    AS max_dev_units,
      |  t.wt AS w_total
      |FROM sch2 s JOIN cnts c ON s.src = c.src, tot t
      |GROUP BY s.src, t.wt""".stripMargin

  /** MAD truth shared verbatim by q143 (buffered) and q168 (histogram
    * form): hist-form MAD must match the buffered two-pass
    * percentile_disc bit for bit. quantile_disc twice == the engine's two
    * percentile_disc passes; integral cents keep the report integer-exact.
    */
  private val MadSql: String =
    """WITH v AS (
      |  SELECT event_type, CAST(trunc(value * 100) AS BIGINT) AS c
      |  FROM events WHERE value IS NOT NULL),
      |m AS (
      |  SELECT event_type, quantile_disc(c, 0.5) AS median,
      |    count(*) AS n
      |  FROM v GROUP BY 1)
      |SELECT v.event_type, n, median,
      |  quantile_disc(abs(c - median), 0.5) AS mad
      |FROM v JOIN m USING (event_type)
      |GROUP BY v.event_type, n, median""".stripMargin

  /** Daily percentile bands shared verbatim by q150 (buffered) and q167
    * (histogram form), which must reproduce the buffered percentile_disc
    * exactly, ties included. quantile_disc == percentile_disc (actual
    * values, SKILL parity rule); integral cents keep the bands
    * integer-exact.
    */
  private val DailyBandsSql: String =
    """WITH v AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day,
      |    CAST(trunc(value * 100) AS BIGINT) AS c
      |  FROM events WHERE value IS NOT NULL)
      |SELECT day, quantile_disc(c, 0.1) AS p10, quantile_disc(c, 0.5) AS p50,
      |  quantile_disc(c, 0.9) AS p90, count(*) AS n
      |FROM v GROUP BY 1""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // ── exact DISCRETE percentiles (ordered-set aggregate surface):
    // percentile_disc returns an actual data value (the first whose
    // cume_dist ≥ p), so cross-engine parity is exact — the
    // interpolating percentile_cont would hash-mismatch on FP
    // operation order. Exact percentile is a full sort per group; at
    // 100 TB the approximate sketch (approx_percentile/t-digest) is
    // the right tool, but its sketch is engine-specific, so the oracle
    // pins the exact form (same reasoning as q35's count-distinct). ──
    QuerySpec("q51_percentiles", (s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").as("p90"),
          expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").as("p99"),
          min(col("value")).as("vmin"),
          max(col("value")).as("vmax"),
          count(lit(1)).as("n")),
      """SELECT event_type,
        |  quantile_disc(value, 0.5) AS p50,
        |  quantile_disc(value, 0.9) AS p90,
        |  quantile_disc(value, 0.99) AS p99,
        |  min(value) AS vmin, max(value) AS vmax, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin),

    // ── RANGE-frame moving window: trailing 7-day revenue per event
    // type — rangeBetween on a day NUMBER (not rows: gap days must
    // shrink the window, which a rows frame gets wrong). Sum stays
    // exact decimal inside the frame, doubles only at the edge; the
    // avg divides the two already-emitted values, so parity is
    // structural. ──
    QuerySpec("q50_moving_window", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), dayKey(col("ts")).as("day"))
        .agg(sum(dec2(col("value"))).as("rev"))
        .withColumn("daynum",
          datediff(to_date(col("day")), lit("1970-01-01").cast("date")))
      val w = Window.partitionBy("event_type").orderBy("daynum").rangeBetween(-6, 0)
      daily.select(col("event_type"), col("day"),
          asDouble(col("rev")).as("day_rev"),
          asDouble(sum(col("rev")).over(w)).as("rev_7d"),
          count(lit(1)).over(w).as("n_days_7d"))
        .withColumn("avg_7d", col("rev_7d") / col("n_days_7d"))
    },
      """WITH g AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    SUM(CAST(value AS DECIMAL(12,2))) AS rev
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT *, date_diff('day', DATE '1970-01-01', CAST(day AS DATE)) AS daynum FROM g)
        |SELECT event_type, day, CAST(rev AS DOUBLE) AS day_rev,
        |  CAST(SUM(rev) OVER w AS DOUBLE) AS rev_7d,
        |  COUNT(*) OVER w AS n_days_7d,
        |  CAST(SUM(rev) OVER w AS DOUBLE) / COUNT(*) OVER w AS avg_7d
        |FROM d WINDOW w AS (PARTITION BY event_type ORDER BY daynum
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin),

    // ── schedule-mix AUDIT (Sampling.scheduleMixReport — the
    // validation tool for ANY interleave order): at each arrival the
    // deviation from the target mix is |src_rank·W − position·w_s|
    // in exact integer 1/W units. Over the equal-sized 20-source
    // fixture the report EXPOSES exhaustion drift — weight-3 sources
    // run out early and the tail re-normalizes (max 481 units ≈ 12
    // items at sf0.01, growing with corpus size) — which is the
    // finding a mix audit exists to surface: the schedule holds the
    // mix only while sources last, so size sources to their weights
    // upstream (q262/q268's job). Pure per-row arithmetic + one
    // small aggregate. ──
    QuerySpec("q349_schedule_audit", (s, dir) => {
      val weights = (0 until 20).map(n => s"src$n" -> ((n % 3) + 1).toLong).toMap
      val sched = graft.operators.Sampling.weightedInterleave(
        t(s, dir, "documents").select(col("doc_id"), col("source"))
          .repartition(32, col("doc_id")),
        "source", "doc_id", weights)
      graft.operators.Sampling.scheduleMixReport(
        sched, "source", "src_rank", "position", weights)
    },
      // schedule-audit mirror: the SAME interleave CTEs + the exact
      // integer deviation arithmetic (W = 39 over the residue weights)
      (WeightedInterleaveCtes +
        """SELECT source, CAST(count(*) AS BIGINT) AS n_items,
          |  CAST(max(abs(src_rank * 39 - position *
          |    (CAST(regexp_extract(source, 'src([0-9]+)', 1) AS BIGINT)
          |      % 3 + 1))) AS BIGINT) AS max_dev_units,
          |  CAST(39 AS BIGINT) AS w_total
          |FROM sch GROUP BY source""".stripMargin)),

    // ── QUALITY-CURRICULUM schedule (q348): the q336 quality score
    // bucketed at fixed thresholds (≥80000 ppm high / ≥30000 mid /
    // low — all three populated at every SF) and fed through
    // weightedInterleave at weights 3:2:1 — the curriculum a
    // quality-weighted training run consumes: high-quality docs are
    // seen 3× as densely UNTIL THE BUCKET EXHAUSTS (the curriculum
    // intent: quality front-loads, the tail re-normalizes over the
    // survivors), and the whole order is deterministic (the
    // resumable-schedule contract). Oracle: the shared PrScoreCtes +
    // the integer error-diffusion interleave mirror. ──
    QuerySpec("q348_curriculum_schedule", (s, dir) => {
      val scored = prScoredDocs(s, dir)
      val bucketed = scored.select(col("doc_id"),
        when(col("score") >= 80000L, lit("high"))
          .when(col("score") >= 30000L, lit("mid"))
          .otherwise(lit("low")).as("bucket"))
      graft.operators.Sampling.weightedInterleave(bucketed, "bucket",
        "doc_id", Map("high" -> 3L, "mid" -> 2L, "low" -> 1L))
    },
      // curriculum mirror: the shared score CTEs + fixed-threshold
      // buckets + the same integer error-diffusion key (lcm 6 over
      // weights 3:2:1 → multipliers 2/3/6)
      (PrScoreCtes +
        """,
          |bk AS (
          |  SELECT doc_id,
          |    CASE WHEN score >= 80000 THEN 'high'
          |         WHEN score >= 30000 THEN 'mid'
          |         ELSE 'low' END AS bucket
          |  FROM lab),
          |k AS (
          |  SELECT doc_id, bucket,
          |    row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS k
          |  FROM bk),
          |ky AS (
          |  SELECT doc_id, bucket, k,
          |    (2 * k - 1) * (CASE bucket WHEN 'high' THEN 2
          |      WHEN 'mid' THEN 3 ELSE 6 END) AS key
          |  FROM k)
          |SELECT doc_id, bucket, CAST(k AS BIGINT) AS src_rank,
          |  CAST(row_number() OVER (ORDER BY key, bucket) AS BIGINT) AS position
          |FROM ky""".stripMargin)),

    // ── DETERMINISTIC weighted interleave (Sampling
    // .weightedInterleave — the data-MIXING SCHEDULE a training run
    // consumes): integer per-source weights (src N weighs N%3+1),
    // prefixes hold the target proportions while every source has
    // items via the error-diffusion key (2k−1)·(lcm/w) — pure
    // integers, both engines order identically (q349 audits the
    // drift once finite sources exhaust). No per-source
    // window: two globalDenseSeq passes + a ≤|sources|-row offset
    // broadcast (a giant source never pins a partition). ──
    QuerySpec("q345_weighted_interleave", (s, dir) => {
      val weights = (0 until 20).map(n => s"src$n" -> ((n % 3) + 1).toLong).toMap
      graft.operators.Sampling.weightedInterleave(
        t(s, dir, "documents").select(col("doc_id"), col("source"))
          .repartition(32, col("doc_id")),
        "source", "doc_id", weights)
    },
      // interleave mirror: per-source row_number, the same integer
      // error-diffusion key (lcm 6 over weights {1,2,3}), one global
      // row_number over (key, source)
      (WeightedInterleaveCtes +
        """SELECT doc_id, source, src_rank, position FROM sch""")),

    // ── SIZED interleave audit (q355 — round 17's answer to q349's
    // finding): the sizeSourcesToWeights pre-pass trims the SAME
    // 20-source fixture to the longest exhaustion-free schedule
    // (T = min n·W/w, largest-remainder apportioned), so every
    // source runs out at the same position and the audit that
    // measured 481 drift units on q349 stays tie-block-BOUNDED
    // (36 < W = 39 at sf0.01) — the whole guarantee chain
    // (size → interleave → audit) in one certified composition.
    // Oracle: the sizing + interleave + deviation arithmetic
    // mirrored closed-form (shared sizedInterleaveAuditSql). ──
    QuerySpec("q355_sized_interleave_audit", (s, dir) => {
      import graft.operators.Sampling
      val weights = (0 until 20).map(n => s"src$n" -> ((n % 3) + 1).toLong).toMap
      val sized = Sampling.sizeSourcesToWeights(
        t(s, dir, "documents").select(col("doc_id"), col("source"))
          .repartition(32, col("doc_id")),
        "source", "doc_id", weights)
      Sampling.scheduleMixReport(
        Sampling.weightedInterleave(sized, "source", "doc_id", weights),
        "source", "src_rank", "position", weights)
    },
      // sized-interleave-audit mirror: the shared sizing + interleave +
      // audit chain over the residue-weight sources
      ("""WITH inp AS (SELECT doc_id AS id, source AS src FROM documents)"""
        + sizedInterleaveAuditSql(
          "CAST(regexp_extract(src, 'src([0-9]+)', 1) AS BIGINT) % 3 + 1"))),

    // ── SIZED quality-curriculum audit (q356 — q348's composition
    // re-run under the exhaustion fix, the capstone VERDICT r16
    // asked for): quality buckets at 3:2:1 are sized to their
    // weights BEFORE the curriculum interleave, so the high-quality
    // bucket cannot run dry mid-schedule and the mix audit stays
    // bounded end-to-end (bucketing → sizing → interleave → audit,
    // every stage certified). ──
    QuerySpec("q356_sized_curriculum_audit", (s, dir) => {
      import graft.operators.Sampling
      val scored = prScoredDocs(s, dir)
      val bucketed = scored.select(col("doc_id"),
        when(col("score") >= 80000L, lit("high"))
          .when(col("score") >= 30000L, lit("mid"))
          .otherwise(lit("low")).as("bucket"))
      val w = Map("high" -> 3L, "mid" -> 2L, "low" -> 1L)
      val sized = Sampling.sizeSourcesToWeights(bucketed, "bucket", "doc_id", w)
      Sampling.scheduleMixReport(
        Sampling.weightedInterleave(sized, "bucket", "doc_id", w),
        "bucket", "src_rank", "position", w)
    },
      // sized-curriculum mirror: the shared score CTEs feed the same
      // sizing + interleave + audit chain at bucket weights 3:2:1
      (PrScoreCtes +
        """,
          |inp AS (
          |  SELECT doc_id AS id,
          |    CASE WHEN score >= 80000 THEN 'high'
          |         WHEN score >= 30000 THEN 'mid'
          |         ELSE 'low' END AS src
          |  FROM lab)""".stripMargin
          + sizedInterleaveAuditSql(
            "CASE src WHEN 'high' THEN 3 WHEN 'mid' THEN 2 ELSE 1 END"))),

    // ── classifier CALIBRATION curve (Calibration.prCurve): the
    // precision/recall table a quality classifier needs before its
    // threshold is chosen — for EVERY distinct score s, the
    // confusion counts of "predict positive iff score ≥ s", in one
    // pass. Score = en-stopword hit ppm (integer, the q309 floor-
    // division idiom over the certified tokenizer), label = the
    // certified withLangGuess == 'en' — a real correlated signal, so
    // the curve is non-degenerate. The cumulative sums ride
    // Layout.globalRunningSum (range-partition + broadcast prefix
    // offsets), NEVER the single-partition global window a naive
    // Window.orderBy plans — the 100-TB posture is the point of the
    // operator. All integers; both engines emit bit-identical
    // curves. ──
    QuerySpec("q336_pr_curve", (s, dir) =>
      graft.operators.Calibration.prCurve(
        prScoredDocs(s, dir), "score", "label"),
      // calibration mirror: per-distinct-score aggregates, DESC
      // cumulative window (distinct thresholds, so the default RANGE
      // frame is safe), integer // division throughout; the en list and
      // the lang argmax mirror the q234 CTEs verbatim
      PrCurveSql),

    // ── MERGEABLE calibration state (the IncrementalAgg discipline
    // on the calibration arc): per-batch per-score partial states
    // fold by re-group, so a day's scoring run joins the curve
    // without rescoring history — merge(state(batch A), state(batch
    // B)) → curve must equal the ONE-SHOT q336 curve, certified
    // against q336's oracle VERBATIM (PrCurveSql, the q186
    // discipline). The %3 split puts shared thresholds in BOTH
    // batches, so the merge's re-aggregation is provably live. ──
    QuerySpec("q338_pr_curve_incremental", (s, dir) => {
      import graft.operators.Calibration
      val scored = prScoredDocs(s, dir).localCheckpoint()
      Calibration.curveFromState(Calibration.mergeStates(
        Calibration.curveState(
          scored.filter(col("doc_id") % 3 === 0), "score", "label"),
        Calibration.curveState(
          scored.filter(col("doc_id") % 3 =!= 0), "score", "label")))
    },
      // IDENTICAL SQL to q336: merged per-batch states must rebuild
      // the one-shot curve exactly (the q186 discipline)
      PrCurveSql),

    // ── token-budget selection (Sampling.selectByBudget): quadratic-
    // residue scores give ~10-way ties per score value, so the
    // (score DESC, id ASC) tie-break is load-bearing in every
    // cum_cost — the hash gate certifies the total order, not just
    // the cut. Budget 20000 lands the cut mid-corpus at sf0.01. ──
    QuerySpec("q262_budget_select", (s, dir) => {
      val id = col("doc_id")
      graft.operators.Sampling.selectByBudget(
        t(s, dir, "documents").select(id).repartition(32)
          .select(id,
            (((id % 50) * (id % 50)) % 50).cast("long").as("score"),
            (lit(50) + id % 100).cast("long").as("cost")),
        "doc_id", "score", "cost", 20000L)
    },
      // budget-select mirror: the single-window running sum the operator
      // deliberately avoids — independent truth for the distributed
      // prefix-sum plan
      """WITH p AS (
        |  SELECT doc_id,
        |    ((doc_id % 50)*(doc_id % 50)) % 50 AS score,
        |    50 + doc_id % 100 AS cost
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, score, cost,
        |    sum(cost) OVER (ORDER BY score DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM p)
        |SELECT doc_id, CAST(score AS BIGINT) AS score,
        |  CAST(cost AS BIGINT) AS cost, CAST(cum AS BIGINT) AS cum_cost,
        |  cum <= 20000 AS selected
        |FROM c""".stripMargin),

    // ── deterministic stratified sampling (training-data mixing):
    // per-source keep rates via an md5-hash threshold on the doc id —
    // a pure per-row predicate (no RNG state, no shuffle, identical
    // output on any partitioning/retry/cluster), which is what makes
    // a 100-TB data-mix reproducible AND lets an oracle certify the
    // exact sampled row set. Rates are the mixing weights. ──
    QuerySpec("q58_sample_mix", (s, dir) =>
      graft.operators.Sampling.stratifiedSample(
          t(s, dir, "documents"), "source", col("doc_id"),
          rates = Map("src0" -> 0.8, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.125),
          defaultRate = 0.05, salt = "mix-v1")
        .select("doc_id", "source", "lang"),
      // Thresholds are floor(rate * 2^32) as 8 lowercase hex digits;
      // lowercase hex compares order-isomorphically to the number, so the
      // string compare reproduces the exact sampled set in any engine.
      """SELECT doc_id, source, lang FROM documents
        |WHERE CASE
        |  WHEN source = 'src0' THEN substr(md5(concat_ws(':', 'mix-v1', CAST(doc_id AS VARCHAR))), 1, 8) < 'cccccccc'
        |  WHEN source = 'src1' THEN substr(md5(concat_ws(':', 'mix-v1', CAST(doc_id AS VARCHAR))), 1, 8) < '80000000'
        |  WHEN source = 'src2' THEN substr(md5(concat_ws(':', 'mix-v1', CAST(doc_id AS VARCHAR))), 1, 8) < '40000000'
        |  WHEN source = 'src3' THEN substr(md5(concat_ws(':', 'mix-v1', CAST(doc_id AS VARCHAR))), 1, 8) < '20000000'
        |  ELSE substr(md5(concat_ws(':', 'mix-v1', CAST(doc_id AS VARCHAR))), 1, 8) < '0ccccccc'
        |END""".stripMargin),

    // ── approximate-aggregate contracts (q46 pattern): the sketch
    // values are engine-specific, so the oracle pins the EXACT numbers
    // (computed independently in SQL) plus the bound checks, and Spark
    // computes the bound checks from the real sketches in-plan — HLL
    // (datasketches hll_sketch_agg), sketch-union mergeability (the
    // property that makes HLL partial-aggregable at 100 TB), and
    // approx_percentile rank-error bracketing, no driver-side
    // materialization anywhere. ──
    QuerySpec("q62_sketch_contract", (s, dir) => {
      val ev = t(s, dir, "events")
      val exactUsers = ev.agg(count_distinct(col("user_id")).cast("double").as("exact"))
      val hllAll = ev.agg(
        hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).cast("double").as("est"))
      val hllUnion = ev
        .groupBy(dayKey(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).cast("double").as("est"))
      def hllRow(method: String, est: DataFrame): DataFrame =
        exactUsers.crossJoin(est).select(lit(method).as("method"), col("exact"),
          (abs(col("est") - col("exact")) / col("exact") <= 0.05).as("ok"))
      val pctile = ev.agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("exact"),
          percentile_approx(col("value"), lit(0.5), lit(1000)).as("ap"),
          expr("percentile_disc(0.47) WITHIN GROUP (ORDER BY value)").as("lo"),
          expr("percentile_disc(0.53) WITHIN GROUP (ORDER BY value)").as("hi"))
        .select(lit("approx_p50_value").as("method"), col("exact"),
          (col("ap") >= col("lo") && col("ap") <= col("hi")).as("ok"))
      hllRow("hll_users", hllAll)
        .unionByName(hllRow("hll_union_daily_users", hllUnion))
        .unionByName(pctile)
    },
      // Sketch estimates are engine-specific; the oracle computes the
      // exact values independently and pins the bound checks (q46
      // pattern — the booleans are live Spark-side assertions).
      """WITH ex AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS exact FROM events),
        |p AS (SELECT CAST(quantile_disc(value, 0.5) AS DOUBLE) AS exact FROM events)
        |SELECT 'hll_users' AS method, exact, true AS ok FROM ex
        |UNION ALL
        |SELECT 'hll_union_daily_users' AS method, exact, true AS ok FROM ex
        |UNION ALL
        |SELECT 'approx_p50_value' AS method, exact, true AS ok FROM p""".stripMargin),

    // ── data profiling (the ANALYZE pass): per-column row/null/
    // distinct counts and min/max in ONE aggregate over one scan,
    // unpivoted to a row per column — never a job per column ──
    QuerySpec("q67_profile", (s, dir) =>
      graft.operators.Profile.profile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")),
      // Same five metrics per column; min/max rendered as strings on both
      // sides (Spark cast(string) and DuckDB CAST AS VARCHAR agree for
      // bigint/double/timestamp/varchar at these magnitudes).
      Seq(
          "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .map(c =>
          s"""SELECT '$c' AS column_name, count(*) AS n_rows,
             |  count(*) - count($c) AS n_null,
             |  count(DISTINCT $c) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_val,
             |  CAST(max($c) AS VARCHAR) AS max_val
             |FROM orders""".stripMargin)
        .mkString("\nUNION ALL\n")),

    // ── approx profile under a live-bound contract (q62 pattern): the
    // HLL profile joined to the exact profile per column; rows/nulls/
    // min/max must agree exactly (same expressions, so string parity is
    // q67's already-certified rendering) and the HLL distinct must land
    // within 15% (3×rsd at the default 5%; HLL is hash-deterministic,
    // so the verdict is stable). The oracle recomputes the exact side
    // and expects distinct_ok = true. ──
    QuerySpec("q81_profile_approx_contract", (s, dir) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val exact = graft.operators.Profile.profile(t(s, dir, "orders"), cols)
        .select(col("column_name"), col("n_distinct").as("__exact"))
      graft.operators.Profile.profileApprox(t(s, dir, "orders"), cols)
        .join(exact, Seq("column_name"))
        .select(col("column_name"), col("n_rows"), col("n_null"),
          col("min_val"), col("max_val"),
          (abs(col("n_distinct") - col("__exact")).cast("double") /
            greatest(col("__exact"), lit(1L)).cast("double") <= 0.15)
            .as("distinct_ok"))
    },
      // exact side recomputed; the live HLL bound is asserted Spark-side
      // and surfaces here as distinct_ok = true.
      Seq(
          "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .map(c =>
          s"""SELECT '$c' AS column_name, count(*) AS n_rows,
             |  count(*) - count($c) AS n_null,
             |  CAST(min($c) AS VARCHAR) AS min_val,
             |  CAST(max($c) AS VARCHAR) AS max_val,
             |  true AS distinct_ok
             |FROM orders""".stripMargin)
        .mkString("\nUNION ALL\n")),

    // ── equi-width histogram (distribution pass for range partitioning
    // and skew detection): 1-row min/max broadcast back, bucket index,
    // one groupBy — identical FP operand order on both sides ──
    QuerySpec("q68_histogram", (s, dir) =>
      graft.operators.Histogram.equiWidth(t(s, dir, "orders"),
        col("o_totalprice"), buckets = 20),
      """WITH m AS (
        |  SELECT CAST(min(o_totalprice) AS DOUBLE) AS mn,
        |         CAST(max(o_totalprice) AS DOUBLE) AS mx
        |  FROM orders),
        |b AS (
        |  SELECT CASE WHEN mx = mn THEN 0
        |    ELSE CAST(least(floor((CAST(o_totalprice AS DOUBLE) - mn) / ((mx - mn) / 20)), 19) AS BIGINT)
        |    END AS bucket, mn, mx
        |  FROM orders CROSS JOIN m)
        |SELECT bucket, mn + bucket * ((mx - mn) / 20) AS bucket_lo, count(*) AS n
        |FROM b GROUP BY bucket, mn, mx""".stripMargin),

    // ── epoch-weighted OVERsampling (q58's complement): stratum
    // weight 2.5 ⇒ two full copies plus a deterministic md5-chosen
    // half gets a third; emits the epoch index. The exact repeated
    // row set is engine-reproducible, so the oracle certifies the
    // mix, not just its size. ──
    QuerySpec("q70_epoch_mix", (s, dir) =>
      graft.operators.Sampling.epochMix(
          t(s, dir, "documents"), "source", col("doc_id"),
          weights = Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.3),
          defaultWeight = 0.0, salt = "epoch-v1")
        .select("doc_id", "source", "epoch"),
      // floor(weight) fixed copies + one more when the md5 draw falls
      // under frac(weight); thresholds are the q58 hex convention.
      """WITH c AS (
        |  SELECT doc_id, source,
        |    CASE
        |      WHEN source = 'src0' THEN 2 + CASE WHEN substr(md5(concat_ws(':', 'epoch-v1', CAST(doc_id AS VARCHAR))), 1, 8) < '80000000' THEN 1 ELSE 0 END
        |      WHEN source = 'src1' THEN 1
        |      WHEN source = 'src2' THEN CASE WHEN substr(md5(concat_ws(':', 'epoch-v1', CAST(doc_id AS VARCHAR))), 1, 8) < '4ccccccc' THEN 1 ELSE 0 END
        |      ELSE 0 END AS copies
        |  FROM documents)
        |SELECT doc_id, source, unnest(range(1, copies + 1)) AS epoch
        |FROM c WHERE copies >= 1""".stripMargin),

    // ── the remaining rank-family windows: ntile / percent_rank /
    // cume_dist. The order-by includes event_id so NTILE's row
    // assignment is deterministic under value ties; percent_rank and
    // cume_dist are rank-based (tie-insensitive) and divide exact
    // integers, so double parity is structural. ──
    QuerySpec("q71_window_ranks", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
      t(s, dir, "events")
        .filter(col("event_id") % 7 === 0)
        .select(col("event_type"), col("event_id"), col("value"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cum_dist"))
    },
      """SELECT event_type, event_id, value,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cum_dist
        |FROM events WHERE event_id % 7 = 0
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""".stripMargin),

    // ── correlated scalar subquery (decorrelated by Catalyst into an
    // aggregate + join — .explain shows no per-row subquery): each
    // customer's max-price orders. max() is order-insensitive, so the
    // correlated aggregate is hash-parity-safe where avg would not be. ──
    QuerySpec("q72_correlated", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("graft_q72_orders")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM graft_q72_orders o
          |WHERE o_totalprice = (SELECT max(o2.o_totalprice)
          |                      FROM graft_q72_orders o2
          |                      WHERE o2.o_custkey = o.o_custkey)""".stripMargin)
    },
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice = (SELECT max(o2.o_totalprice)
        |                      FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)""".stripMargin),

    // ── balanced domain mixture: every source downsampled to the
    // smallest source's size, rates computed IN-PLAN from the corpus's
    // own counts (no collect), md5-threshold draw — exact integer/IEEE
    // arithmetic end to end, so the oracle reproduces the row set ──
    QuerySpec("q91_mix_bal", (s, dir) =>
      graft.operators.Sampling.balancedMix(
          t(s, dir, "documents"), "source", col("doc_id"), salt = "mix-v1")
        .select("doc_id", "source", "lang"),
      // Same md5 draw as q58; the per-source threshold is
      // floor((min_n/n)·2^32) in hex — IEEE ÷,×,floor are correctly
      // rounded, so both engines compute the identical threshold. The
      // smallest source keeps all rows (no 8-hex threshold equals 1.0).
      """WITH n AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |m AS (SELECT min(n) AS minn FROM n)
        |SELECT d.doc_id, d.source, d.lang
        |FROM documents d JOIN n USING (source) CROSS JOIN m
        |WHERE n.n = m.minn
        |   OR substr(md5(concat_ws(':', 'mix-v1', CAST(d.doc_id AS VARCHAR))), 1, 8)
        |      < lpad(lower(hex(CAST(floor(
        |          (CAST(m.minn AS DOUBLE) / CAST(n.n AS DOUBLE)) * 4294967296.0
        |        ) AS BIGINT))), 8, '0')""".stripMargin),

    // ── exact-N per-stratum deterministic sample (eval-set
    // construction): exactly 30 docs per source, ranked by the md5
    // draw with key ties — reproducible and engine-independent ──
    QuerySpec("q100_sample_n", (s, dir) =>
      graft.operators.Sampling.sampleExactN(
          t(s, dir, "documents"), "source", col("doc_id"), n = 30, salt = "eval-v1")
        .select("doc_id", "source", "lang"),
      // Same draw as q58/q91 (md5 of salt:key), rank + key tie-break.
      """SELECT doc_id, source, lang FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source
        |  ORDER BY substr(md5(concat_ws(':', 'eval-v1', CAST(doc_id AS VARCHAR))), 1, 8),
        |           doc_id) <= 30""".stripMargin),

    // ── key-skew profile ("measure before you salt"): top-8 heaviest
    // l_orderkey values with table share — the decision input for
    // SkewSalt/AQE tuning; TakeOrderedAndProject, no global sort ──
    QuerySpec("q101_skew_profile", (s, dir) =>
      graft.operators.Profile.keySkew(t(s, dir, "lineitem"), "l_orderkey", topN = 8),
      // NOTE: the outer ORDER BY must use the QUALIFIED c.key (BIGINT) —
      // the bare name would resolve to the output alias, a VARCHAR, and
      // break ties lexicographically while the window breaks them
      // numerically (caught by the round-7 oracle run).
      """WITH c AS (
        |  SELECT l_orderkey AS key, count(*) AS n FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT row_number() OVER (ORDER BY n DESC, c.key ASC NULLS FIRST) AS rank,
        |  CAST(c.key AS VARCHAR) AS key, n,
        |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share
        |FROM c CROSS JOIN t
        |ORDER BY n DESC, c.key ASC NULLS FIRST
        |LIMIT 8""".stripMargin),

    // ── weighted sampling without replacement (priority sampling):
    // 60 docs drawn ∝ n_chars, deterministically — per-row projection
    // + TakeOrdered, corpus never shuffled ──
    QuerySpec("q107_priority_sample", (s, dir) =>
      graft.operators.Sampling.prioritySample(
          t(s, dir, "documents"), col("doc_id"), col("n_chars"), k = 60,
          salt = "prio-v1")
        .select("doc_id", "source", "n_chars", "priority"),
      // Same md5 draw; '0x'||hex → BIGINT mirrors Spark's conv(_,16,10).
      // priority = (w·2^32)/(v+1): exact multiply (n_chars < 2^21) then
      // ONE correctly-rounded divide — bit-identical doubles both sides;
      // doc_id tiebreak makes the LIMIT cut total-order deterministic.
      """WITH a AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(('0x' || substr(md5(concat_ws(':', 'prio-v1',
        |      CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) + 1 AS u
        |  FROM documents)
        |SELECT doc_id, source, n_chars,
        |  CAST(n_chars AS DOUBLE) * 4294967296.0 / CAST(u AS DOUBLE) AS priority
        |FROM a
        |ORDER BY priority DESC, doc_id LIMIT 60""".stripMargin),

    // ── pairwise audience overlap across event types: member-keyed
    // self-join bounded by group-cardinality², integer-ppm Jaccard ──
    QuerySpec("q112_audience_overlap", (s, dir) =>
      graft.operators.Profile.setOverlap(t(s, dir, "events"), "event_type", "user_id"),
      // DISTINCT (type, user) grain; Jaccard in integer ppm.
      """WITH s AS (
        |  SELECT DISTINCT event_type AS grp, user_id AS member FROM events
        |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |z AS (SELECT grp, count(*) AS n FROM s GROUP BY 1),
        |p AS (
        |  SELECT a.grp AS grp_a, b.grp AS grp_b, count(*) AS n_common
        |  FROM s a JOIN s b ON a.member = b.member AND a.grp < b.grp
        |  GROUP BY 1, 2)
        |SELECT grp_a, grp_b, za.n AS n_a, zb.n AS n_b, n_common,
        |  (n_common * 1000000) // (za.n + zb.n - n_common) AS jaccard_ppm
        |FROM p JOIN z za ON za.grp = grp_a JOIN z zb ON zb.grp = grp_b""".stripMargin),

    // ── cohort retention matrix at epoch-week grain: distinct
    // (user, week) → min-week cohort → same-key join-back (no third
    // shuffle) → integer week offsets ──
    QuerySpec("q113_retention", (s, dir) =>
      graft.operators.Cohort.retention(t(s, dir, "events"), "user_id",
        expr("datediff(CAST(ts AS DATE), DATE'1970-01-01') div 7")),
      // Epoch-week = days-since-1970 // 7 in both engines; offsets are
      // plain BIGINT subtraction — no date arithmetic in the matrix.
      """WITH act AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS BIGINT)
        |      AS period
        |  FROM events WHERE user_id IS NOT NULL),
        |c AS (SELECT u, min(period) AS cohort FROM act GROUP BY 1)
        |SELECT cohort, period - cohort AS period_offset, count(*) AS n_users
        |FROM act JOIN c USING (u)
        |GROUP BY 1, 2""".stripMargin),

    // ── integer trailing-window spike detection: day n vs 9/8 × the
    // trailing-7-day mean, tested as 8·7·n > 9·sum — no division ──
    QuerySpec("q116_spike", (s, dir) =>
      graft.operators.Profile.trailingSpikes(
        t(s, dir, "events")
          .groupBy(col("event_type"), dayKey(col("ts")).as("day"))
          .agg(count(lit(1)).as("n")),
        "event_type", "day", "n", window = 7, num = 9, den = 8),
      // All-integer comparison: 8·7·n > 9·trail_sum; first 7 days have
      // an unfull window → spike = false by the trail_n guard.
      """WITH d AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, n,
        |    CAST(coalesce(sum(n) OVER tw, 0) AS BIGINT) AS trail_sum,
        |    count(n) OVER tw AS trail_n
        |  FROM d WINDOW tw AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, n, trail_sum,
        |  (trail_n = 7 AND 8 * 7 * n > 9 * trail_sum) AS spike
        |FROM w""".stripMargin),

    // ── last-touch attribution: each purchase as-of-joined to the
    // user's most recent prior view/click (same-instant touches
    // collapsed deterministically by min type) — the as-of operator at
    // event grain, certified against DuckDB's native ASOF ──
    QuerySpec("q117_attribution", (s, dir) => {
      val ev = t(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val touches = ev.filter(col("event_type").isin("view", "click"))
        .groupBy(col("user_id"), col("ts").as("tts"))
        .agg(min(col("event_type")).as("touch_type"))
      graft.operators.AsofJoin
        .asofLeft(p, touches, "user_id", "ts", "tts", Seq("touch_type"))
        .groupBy(coalesce(col("touch_type"), lit("none")).as("touch"))
        .agg(count(lit(1)).as("n_purchases"))
    },
      // DuckDB's NATIVE ASOF LEFT JOIN as independent truth (the q49
      // pattern); same-instant touches pre-collapsed by min(type) so the
      // as-of pick is total in both engines.
      """WITH p AS (
        |  SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id, ts, min(event_type) AS touch_type FROM events
        |  WHERE event_type IN ('view', 'click') GROUP BY 1, 2)
        |SELECT coalesce(t.touch_type, 'none') AS touch,
        |  count(*) AS n_purchases
        |FROM p ASOF LEFT JOIN t
        |  ON p.user_id = t.user_id AND t.ts <= p.ts
        |GROUP BY 1""".stripMargin),

    // ── per-metric trend slope with exact integer moments (x = days
    // into the window, y = cents); the only FP op is the final
    // division ──
    QuerySpec("q119_trend_slope", (s, dir) =>
      graft.operators.Profile.trendSlope(t(s, dir, "events"), "event_type",
        expr("datediff(CAST(ts AS DATE), DATE'2024-01-01')"),
        expr("CAST(value * 100 AS BIGINT)")),
      // Exact integer moments; trunc() mirrors Spark's truncating
      // double→long cast (DuckDB's bare CAST rounds); the single FP op
      // is the final num/den divide.
      """WITH e AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
        |    CAST(trunc(value * 100) AS BIGINT) AS y
        |  FROM events),
        |a AS (
        |  SELECT event_type, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM e GROUP BY 1)
        |SELECT event_type, n, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den,
        |  CASE WHEN n * sxx - sx * sx <> 0
        |    THEN CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
        |  END AS slope
        |FROM a""".stripMargin),

    // ── equi-depth histogram: exact percentile_disc boundaries
    // (actual data values), comparison-only bucket assignment —
    // deterministic where ntile's tie split is not ──
    QuerySpec("q120_equidepth", (s, dir) =>
      graft.operators.Histogram.equiDepth(
        t(s, dir, "orders"), "o_totalprice", buckets = 8),
      // quantile_disc == percentile_disc (actual data values — the SKILL
      // parity rule); assignment is the same ordered CASE chain.
      """WITH b AS (
        |  SELECT quantile_disc(o_totalprice, 0.125) AS b0,
        |    quantile_disc(o_totalprice, 0.25) AS b1,
        |    quantile_disc(o_totalprice, 0.375) AS b2,
        |    quantile_disc(o_totalprice, 0.5) AS b3,
        |    quantile_disc(o_totalprice, 0.625) AS b4,
        |    quantile_disc(o_totalprice, 0.75) AS b5,
        |    quantile_disc(o_totalprice, 0.875) AS b6
        |  FROM orders)
        |SELECT CASE WHEN o_totalprice <= b0 THEN 0 WHEN o_totalprice <= b1 THEN 1
        |  WHEN o_totalprice <= b2 THEN 2 WHEN o_totalprice <= b3 THEN 3
        |  WHEN o_totalprice <= b4 THEN 4 WHEN o_totalprice <= b5 THEN 5
        |  WHEN o_totalprice <= b6 THEN 6 ELSE 7 END AS bucket,
        |  count(*) AS n
        |FROM orders CROSS JOIN b
        |WHERE o_totalprice IS NOT NULL
        |GROUP BY 1""".stripMargin),

    // ── Hamilton largest-remainder apportionment: Σ alloc == budget
    // exactly, all-integer, remainder ties total-ordered ──
    QuerySpec("q121_apportion", (s, dir) =>
      graft.operators.Sampling.apportion(
        t(s, dir, "documents"), "source", budget = 120L),
      // Hamilton: quota = (b·n) // total, leftover = b − Σ quota units to
      // the largest remainders (source tiebreak) — all integer.
      """WITH c AS (SELECT source, count(*) AS n_rows FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM c),
        |q AS (
        |  SELECT source, n_rows, (120 * n_rows) // total AS quota,
        |    (120 * n_rows) % total AS rem
        |  FROM c CROSS JOIN t),
        |l AS (SELECT 120 - CAST(sum(quota) AS BIGINT) AS leftover FROM q)
        |SELECT source, n_rows,
        |  quota + CASE WHEN row_number() OVER (ORDER BY rem DESC, source) <= leftover
        |    THEN 1 ELSE 0 END AS alloc
        |FROM q CROSS JOIN l""".stripMargin),

    // ── exact-budget weighted mixture: apportion 200 across sources,
    // each stratum keeps its alloc highest-(n_chars/u) docs ──
    QuerySpec("q122_budget_mixture", (s, dir) =>
      graft.operators.Sampling.priorityApportion(
          t(s, dir, "documents"), "source", col("doc_id"), col("n_chars"),
          budget = 200L, salt = "bm-v1")
        .select("doc_id", "source", "n_chars", "priority"),
      // q121's apportionment at budget 200 + q107's exact priority
      // doubles, ranked per source.
      """WITH c AS (SELECT source, count(*) AS n_rows FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM c),
        |q AS (
        |  SELECT source, n_rows, (200 * n_rows) // total AS quota,
        |    (200 * n_rows) % total AS rem
        |  FROM c CROSS JOIN t),
        |l AS (SELECT 200 - CAST(sum(quota) AS BIGINT) AS leftover FROM q),
        |a AS (
        |  SELECT source,
        |    quota + CASE WHEN row_number() OVER (ORDER BY rem DESC, source) <= leftover
        |      THEN 1 ELSE 0 END AS alloc
        |  FROM q CROSS JOIN l),
        |p AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(n_chars AS DOUBLE) * 4294967296.0 /
        |      CAST(CAST(('0x' || substr(md5(concat_ws(':', 'bm-v1',
        |        CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) + 1 AS DOUBLE) AS priority
        |  FROM documents)
        |SELECT doc_id, source, n_chars, priority
        |FROM (
        |  SELECT p.*, row_number() OVER (PARTITION BY p.source
        |    ORDER BY priority DESC, doc_id) AS rk, a.alloc
        |  FROM p JOIN a USING (source))
        |WHERE rk <= alloc""".stripMargin),

    // ── mergeable Misra-Gries heavy hitters under its guarantee
    // contract (the q62 pattern): a planted 50%-hot key stream; the
    // sketch must contain every item with freq > n/(k+1), never
    // overcount, and undercount by at most n div (k+1) ──
    QuerySpec("q123_heavy_hitters_contract", (s, dir) => {
      val keyed = t(s, dir, "events").select(
        when(col("event_id") % 2 === 0, lit("HOT"))
          .otherwise((col("event_id") % 97).cast("string")).as("k"))
      val mg = udaf(new graft.operators.TypedAgg.MisraGries(10),
        org.apache.spark.sql.Encoders.STRING)
      val sketch = keyed.agg(mg(col("k")).as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.item").as("item"), col("e.cnt").as("est"))
      val tot = keyed.agg(count(lit(1)).as("n"))
      keyed.groupBy("k").agg(count(lit(1)).as("freq"))
        .join(sketch, col("k") === col("item"), "left")
        .crossJoin(tot)
        .agg(max(col("n")).as("n_rows"),
          sum(when(col("freq") * 11 > col("n"), 1L).otherwise(0L))
            .as("n_true_heavy"),
          (sum(when(col("freq") * 11 > col("n") && col("item").isNull, 1L)
            .otherwise(0L)) === 0L).as("all_heavy_found"),
          (max(when(col("item").isNotNull, col("freq") - col("est")))
            <= expr("max(n) div 11")).as("under_bound_ok"),
          (sum(when(col("est") > col("freq"), 1L).otherwise(0L)) === 0L)
            .as("never_overcounts"))
    },
      // The oracle computes the exact side and asserts the MG guarantees
      // as literals — the sketch's COUNTS are merge-order-dependent, its
      // GUARANTEES are not (q46/q62 contract pattern).
      """WITH k AS (
        |  SELECT CASE WHEN event_id % 2 = 0 THEN 'HOT'
        |    ELSE CAST(event_id % 97 AS VARCHAR) END AS k
        |  FROM events),
        |t AS (SELECT count(*) AS n FROM k),
        |e AS (SELECT k, count(*) AS freq FROM k GROUP BY 1)
        |SELECT n AS n_rows,
        |  CAST(sum(CASE WHEN freq * 11 > n THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_true_heavy,
        |  TRUE AS all_heavy_found, TRUE AS under_bound_ok,
        |  TRUE AS never_overcounts
        |FROM e CROSS JOIN t GROUP BY n""".stripMargin),

    // ── integer EWMA (α = 1/4) over each metric's daily revenue
    // series: shifts/adds only, so the smoothed value is bit-exact on
    // any partitioning — FP smoothing is not ──
    QuerySpec("q125_ewma", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("datediff(CAST(ts AS DATE), DATE'2024-01-01')").as("x"))
        .agg(sum(expr("CAST(value * 100 AS BIGINT)")).as("y"))
      graft.operators.Profile.ewma(daily, "event_type", col("x"), col("y"), shift = 2)
    },
      // s1 = y1 (list_reduce's init-less fold), then (y + 3·acc) // 4 ==
      // Spark's shiftright(y + 3·acc, 2) for the non-negative values the
      // operator enforces; trunc() mirrors the truncating double->long cast.
      """WITH d AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
        |    CAST(sum(CAST(trunc(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |f AS (SELECT event_type, x, y FROM d
        |      WHERE x IS NOT NULL AND y IS NOT NULL AND y >= 0),
        |l AS (
        |  SELECT event_type, count(*) AS n_points,
        |    list_transform(list_sort(list({'o': x, 'y': y})), p -> p.y) AS ys
        |  FROM f GROUP BY 1)
        |SELECT event_type, CAST(n_points AS INT) AS n_points,
        |  list_reduce(ys, (acc, y) -> (y + 3 * acc) // 4) AS ewma
        |FROM l""".stripMargin),

    // ── top-p (nucleus) coverage: per metric, the smallest set of
    // days covering 80% of revenue — all-integer threshold test, the
    // Intervals two-window shape ──
    QuerySpec("q127_top_p", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), dayKey(col("ts")).as("day"))
        .agg(sum(expr("CAST(value * 100 AS BIGINT)")).as("cents"))
      graft.operators.Sampling.topPCoverage(daily, "event_type",
        col("cents"), col("day"), num = 4, den = 5)
    },
      // Nucleus keep-rule: EXCLUSIVE running sum below 4/5 of the key
      // total (5·cum < 4·tot — integer), heaviest first, day tiebreak.
      """WITH d AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(trunc(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, cents,
        |    CAST(coalesce(sum(cents) OVER (PARTITION BY event_type
        |      ORDER BY cents DESC, day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum,
        |    CAST(sum(cents) OVER (PARTITION BY event_type) AS BIGINT) AS tot
        |  FROM d)
        |SELECT event_type, day, cents FROM w WHERE 5 * cum < 4 * tot""".stripMargin),

    // ── state-transition matrix: what event follows what, per user in
    // (ts, event_id) total order — one lag window + partial-agg count ──
    QuerySpec("q128_transitions", (s, dir) =>
      graft.operators.Profile.transitions(t(s, dir, "events"), "user_id",
        Seq(col("ts"), col("event_id")), col("event_type")),
      // (ts, event_id) makes the per-user order total — lag on ties
      // would otherwise be engine-dependent (the q94 lesson).
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      AS prev
        |  FROM events)
        |SELECT prev AS from_state, event_type AS to_state, count(*) AS n
        |FROM s WHERE prev IS NOT NULL GROUP BY 1, 2""".stripMargin),

    // ── winsorize: comparison-only percentile clip at [p05, p95] —
    // every output value is bit-identical to some input value ──
    QuerySpec("q132_winsorize", (s, dir) =>
      graft.operators.Feature.winsorize(
          t(s, dir, "orders"), "o_totalprice", loQ = 0.05, hiQ = 0.95)
        .select(col("o_orderkey"), col("o_totalprice"), col("clipped")),
      // quantile_disc == percentile_disc (actual data values); the clip
      // is comparison-only, so doubles pass through bit-identical.
      """WITH b AS (
        |  SELECT quantile_disc(o_totalprice, 0.05) AS lo,
        |    quantile_disc(o_totalprice, 0.95) AS hi
        |  FROM orders)
        |SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_totalprice IS NOT NULL
        |    THEN greatest(lo, least(hi, o_totalprice)) END AS clipped
        |FROM orders CROSS JOIN b""".stripMargin),

    // ── forward-fill: carry each user's last purchase amount across
    // subsequent events in (ts, event_id) total order ──
    QuerySpec("q133_gap_fill", (s, dir) =>
      graft.operators.Feature.gapFill(
          t(s, dir, "events"), "user_id", Seq(col("ts"), col("event_id")),
          when(col("event_type") === "purchase",
            expr("CAST(value * 100 AS BIGINT)")),
          as = "last_purchase_cents")
        .select(col("event_id"), col("user_id"), col("last_purchase_cents")),
      // Forward fill via last_value IGNORE NULLS over a running frame;
      // (ts, event_id) makes the per-user order total.
      """SELECT event_id, user_id,
        |  last_value(CASE WHEN event_type = 'purchase'
        |      THEN CAST(trunc(value * 100) AS BIGINT) END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS last_purchase_cents
        |FROM events""".stripMargin),

    // ── per-group integer min-max scaling: event value → permille of
    // its event_type's range, all-BIGINT ──
    QuerySpec("q134_scale_minmax", (s, dir) =>
      graft.operators.Feature.scaleMinMax(
          t(s, dir, "events"), "event_type",
          expr("CAST(value * 100 AS BIGINT)"), den = 1000L, as = "permille")
        .select(col("event_id"), col("event_type"), col("permille")),
      // Integer permille min-max scaling per event_type; `//` == Spark
      // `div` on the non-negative (c - mn).
      """WITH v AS (
        |  SELECT event_id, event_type,
        |    CAST(trunc(value * 100) AS BIGINT) AS c
        |  FROM events),
        |w AS (
        |  SELECT event_id, event_type, c,
        |    min(c) OVER (PARTITION BY event_type) AS mn,
        |    max(c) OVER (PARTITION BY event_type) AS mx
        |  FROM v)
        |SELECT event_id, event_type,
        |  CASE WHEN mx > mn THEN ((c - mn) * 1000) // (mx - mn)
        |    WHEN c IS NOT NULL THEN 0 END AS permille
        |FROM w""".stripMargin),

    // ── top user journeys: consecutive event-type trigrams per user in
    // (ts, event_id) total order, global top-20 with total tie order ──
    QuerySpec("q136_path_trigrams", (s, dir) =>
      graft.operators.Profile.pathTrigrams(t(s, dir, "events"), "user_id",
        Seq(col("ts"), col("event_id")), col("event_type"), topN = 20),
      // Trigram journeys: two lags in the same (ts, event_id)-total
      // window; top-20 under a TOTAL order (n desc, then the trigram).
      """WITH s AS (
        |  SELECT event_type AS s3,
        |    lag(event_type, 1) OVER w AS s2,
        |    lag(event_type, 2) OVER w AS s1
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |SELECT s1, s2, s3, count(*) AS n FROM s WHERE s1 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY n DESC, s1, s2, s3 LIMIT 20""".stripMargin),

    // ── distribution drift between the first and second half-month:
    // all-integer TV numerator |n_a·N_b − n_b·N_a| per category ──
    QuerySpec("q138_dist_drift", (s, dir) =>
      graft.operators.Profile.distDrift(t(s, dir, "events"),
        get_json_object(col("props"), "$.k"),
        expr("ts >= TIMESTAMP'2024-01-16'")),
      // All-integer TV numerator; count FILTER stays BIGINT (no SUM /
      // HUGEINT trap).
      """WITH g AS (
        |  SELECT json_extract_string(props, '$.k') AS category,
        |    count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-16') AS n_a,
        |    count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-16') AS n_b
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
        |  CAST(sum(n_b) AS BIGINT) AS tb FROM g)
        |SELECT category, n_a, n_b, abs(n_a * tb - n_b * ta) AS drift_num
        |FROM g CROSS JOIN t""".stripMargin),

    // ── per-key Pearson correlation from exact BIGINT moments; the
    // only FP is the final fixed-shape num/(√dx·√dy) ──
    QuerySpec("q139_corr", (s, dir) =>
      graft.operators.Profile.corrMoments(t(s, dir, "events"), "event_type",
        expr("datediff(CAST(ts AS DATE), DATE'2024-01-01')"),
        expr("CAST(value * 100 AS BIGINT)")),
      // The q119 exact-moment discipline; corr's final expression has
      // the identical IEEE shape both sides.
      """WITH e AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
        |    CAST(trunc(value * 100) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |m AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM e GROUP BY 1)
        |SELECT event_type, n, sx, sy, sxx, syy, sxy,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |    THEN CAST(n * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END AS corr
        |FROM m""".stripMargin),

    // ── robust center/spread: per-type median + MAD of event cents,
    // both percentile_disc — integer-exact end to end ──
    QuerySpec("q143_mad", (s, dir) =>
      graft.operators.Profile.madRobust(t(s, dir, "events"), "event_type",
        expr("CAST(value * 100 AS BIGINT)")),
      MadSql),

    // ── Benford first-digit audit on order totals (cents): digit from
    // the decimal string, integer ppm shares ──
    QuerySpec("q144_benford", (s, dir) =>
      graft.operators.Quality.firstDigitReport(t(s, dir, "orders"),
        expr("CAST(o_totalprice * 100 AS BIGINT)")),
      // Leading digit from the decimal string (exact at power-of-ten
      // boundaries where floor(log10) float math is not).
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(trunc(o_totalprice * 100) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders WHERE trunc(o_totalprice * 100) > 0),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM g)
        |SELECT digit, n, (n * 1000000) // tt AS ppm
        |FROM g CROSS JOIN t""".stripMargin),

    // ── mergeable quantile-sketch contract: approx_percentile's rank
    // guarantee verified against the data, booleans pinned true ──
    QuerySpec("q145_quantile_sketch_contract", (s, dir) =>
      graft.operators.Profile.approxQuantileContract(
        t(s, dir, "events"), "event_type",
        expr("CAST(value * 100 AS BIGINT)"), accuracy = 1000),
      // The q62/q81 live-bound pattern: the oracle computes n exactly and
      // pins the guarantee booleans TRUE — a sketch violating its rank
      // bound fails the hash compare.
      """SELECT event_type, count(*) AS n,
        |  TRUE AS p50_ok, TRUE AS p95_ok
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1""".stripMargin),

    // ── calendar densification: per-category daily counts with every
    // (category, day) cell present, zero-filled — gap-free series ──
    QuerySpec("q146_densify_days", (s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(get_json_object(col("props"), "$.k").as("category"),
          dayKey(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.operators.Feature.densifyDays(daily, "category", "day", "n")
    },
      // Scaffold = distinct categories × full day range; zero-filled
      // left join. generate_series end is inclusive on both engines.
      """WITH daily AS (
        |  SELECT json_extract_string(props, '$.k') AS category,
        |    strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |mm AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
        |days AS (
        |  SELECT strftime(CAST(u.d AS DATE), '%Y-%m-%d') AS day
        |  FROM mm, unnest(generate_series(CAST(lo AS DATE),
        |    CAST(hi AS DATE), INTERVAL 1 DAY)) AS u(d)),
        |scaffold AS (
        |  SELECT category, day FROM (SELECT DISTINCT category FROM daily)
        |  CROSS JOIN days)
        |SELECT s.category, s.day, CAST(coalesce(d.n, 0) AS BIGINT) AS n
        |FROM scaffold s LEFT JOIN daily d
        |  ON s.category = d.category AND s.day = d.day""".stripMargin),

    // ── bounce report: per session-start day, sessions / single-event
    // bounces / integer-ppm bounce rate — composition of the certified
    // sessionizer at µs span grain ──
    QuerySpec("q148_bounce", (s, dir) =>
      graft.operators.Sessionize.sessionSpansUs(
          t(s, dir, "events"), "user_id", "ts", gapMinutes = 30)
        .groupBy(expr("start_us div 86400000000").as("day_idx"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
        .withColumn("bounce_ppm", expr("(n_bounces * 1000000) div n_sessions")),
      // The q43 session CTE at µs grain; bounce = 1-event session.
      // count FILTER stays BIGINT.
      """WITH d AS (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
        |           OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d),
        |sp AS (
        |  SELECT min(epoch_us(ts)) AS su, count(*) AS ne
        |  FROM s GROUP BY user_id, sid),
        |g AS (
        |  SELECT su // 86400000000 AS day_idx, count(*) AS n_sessions,
        |    count(*) FILTER (WHERE ne = 1) AS n_bounces
        |  FROM sp GROUP BY 1)
        |SELECT day_idx, n_sessions, n_bounces,
        |  (n_bounces * 1000000) // n_sessions AS bounce_ppm
        |FROM g""".stripMargin),

    // ── weighted median from a pre-aggregated histogram: median
    // quantity weighted by revenue cents, per return flag — the
    // histogram-first shape a 100-TB median needs ──
    QuerySpec("q149_weighted_median", (s, dir) => {
      val hist = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"),
          expr("CAST(l_quantity AS BIGINT)").as("qty"))
        .agg(sum(expr("CAST(l_extendedprice * 100 AS BIGINT)")).as("cents"))
      graft.operators.Profile.weightedMedian(hist, "l_returnflag", "qty", "cents")
    },
      // Histogram-first weighted median: same crossing rule (2·cum ≥
      // tot, inclusive running weight in qty order) both sides.
      """WITH h AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(sum(CAST(trunc(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM lineitem GROUP BY 1, 2),
        |w AS (
        |  SELECT l_returnflag, qty,
        |    CAST(sum(cents) OVER (PARTITION BY l_returnflag ORDER BY qty
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(cents) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
        |  FROM h WHERE cents > 0)
        |SELECT l_returnflag, min(qty) AS wmedian, max(tot) AS total_weight
        |FROM w WHERE cum * 2 >= tot GROUP BY 1""".stripMargin),

    // ── daily p10/p50/p90 bands of event cents — exact discrete
    // percentiles per day (the timeseries envelope chart) ──
    QuerySpec("q150_daily_bands", (s, dir) =>
      t(s, dir, "events")
        .select(dayKey(col("ts")).as("day"),
          expr("CAST(value * 100 AS BIGINT)").as("c"))
        .filter(col("c").isNotNull)
        .groupBy("day")
        .agg(
          expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY c)")
            .cast("long").as("p10"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)")
            .cast("long").as("p50"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY c)")
            .cast("long").as("p90"),
          count(lit(1)).as("n")),
      DailyBandsSql),

    // ── integer linear interpolation between nearest observations
    // (the other half of q133's LOCF): per user, null measures lerp
    // between neighboring purchase amounts on the µs axis ──
    QuerySpec("q162_interpolate", (s, dir) =>
      graft.operators.Feature.interpolateLinear(
          t(s, dir, "events").withColumn("__us", unix_micros(col("ts"))),
          "user_id", Seq(col("__us"), col("event_id")), col("__us"),
          when(col("event_type") === "purchase",
            expr("CAST(value * 100 AS BIGINT)")),
          as = "interp_cents")
        .select(col("event_id"), col("user_id"), col("interp_cents")),
      // Same frames: running last + following first, both conditioned on
      // the value-not-null predicate; integer lerp, both engines
      // truncate div toward zero.
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t,
        |    CASE WHEN event_type = 'purchase'
        |      THEN CAST(trunc(value * 100) AS BIGINT) END AS v
        |  FROM events),
        |w AS (
        |  SELECT event_id, user_id, t, v,
        |    last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
        |      OVER pw AS pt,
        |    last_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
        |      OVER pw AS pv,
        |    first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
        |      OVER nw AS nt,
        |    first_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
        |      OVER nw AS nv
        |  FROM e
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    nw AS (PARTITION BY user_id ORDER BY t, event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT event_id, user_id,
        |  CASE WHEN v IS NOT NULL THEN v
        |    WHEN pt IS NOT NULL AND nt > pt
        |      THEN pv + ((nv - pv) * (t - pt)) // (nt - pt)
        |    WHEN pt IS NOT NULL AND nt = pt THEN pv
        |  END AS interp_cents
        |FROM w""".stripMargin),

    // ── decile lift table: users ranked by spend into 10 equal-count
    // bins via row_number (total order — ntile's tie split is
    // engine-dependent), per-decile spend + cumulative share ppm; the
    // ranking windows run over the user-grain aggregate only ──
    QuerySpec("q165_decile_lift", (s, dir) => {
      val spend = t(s, dir, "events")
        .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(sum(expr("CAST(value * 100 AS BIGINT)")).as("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cents").desc, col("user_id"))
      val deciles = spend
        .withColumn("__rk", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .withColumn("decile", expr("((__rk - 1) * 10) div __n"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("cents"))
      deciles
        .withColumn("__tot", sum(col("cents")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .withColumn("cum_share_ppm",
          expr("(sum(cents) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000) div __tot"))
        .drop("__tot")
    },
      // row_number deciles (total order), integer cumulative share.
      """WITH spend AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(trunc(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events
        |  WHERE event_type = 'purchase' AND user_id IS NOT NULL
        |  GROUP BY 1),
        |r AS (
        |  SELECT cents,
        |    row_number() OVER (ORDER BY cents DESC, user_id) AS rk,
        |    count(*) OVER () AS n
        |  FROM spend),
        |d AS (
        |  SELECT ((rk - 1) * 10) // n AS decile, count(*) AS n_users,
        |    CAST(sum(cents) AS BIGINT) AS cents
        |  FROM r GROUP BY 1)
        |SELECT decile, n_users, cents,
        |  (CAST(sum(cents) OVER (ORDER BY decile
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   * 1000000) // CAST(sum(cents) OVER () AS BIGINT) AS cum_share_ppm
        |FROM d""".stripMargin),

    // ── exact pro-rata: split each order's total cents across its
    // (partkey, suppkey) item groups proportional to item revenue,
    // largest-remainder exact — Σ alloc == order total PER ORDER ──
    QuerySpec("q160_prorata", (s, dir) => {
      val items = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
        .agg(sum(expr("CAST(l_extendedprice * 100 AS BIGINT)")).as("item_cents"))
      val orders = t(s, dir, "orders").select(col("o_orderkey"),
        expr("CAST(o_totalprice * 100 AS BIGINT)").as("total_cents"))
      graft.operators.Sampling.prorataAllocate(
        items.join(orders, col("l_orderkey") === col("o_orderkey")),
        "l_orderkey", "item_cents", "total_cents",
        Seq("l_partkey", "l_suppkey"))
    },
      // Hamilton largest-remainder per order with revenue weights; the
      // (rem desc, partkey, suppkey) rank is total at the aggregated
      // item grain.
      """WITH items AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey,
        |    CAST(sum(CAST(trunc(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS w
        |  FROM lineitem GROUP BY 1, 2, 3),
        |j AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey, w,
        |    CAST(trunc(o_totalprice * 100) AS BIGINT) AS t
        |  FROM items JOIN orders ON l_orderkey = o_orderkey
        |  WHERE w >= 0),
        |q AS (
        |  SELECT *, CAST(sum(w) OVER (PARTITION BY l_orderkey) AS BIGINT) AS ws
        |  FROM j),
        |r AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey, w, t,
        |    (t * w) // ws AS quota, (t * w) % ws AS rem,
        |    CAST(sum((t * w) // ws) OVER (PARTITION BY l_orderkey) AS BIGINT)
        |      AS qsum
        |  FROM q WHERE ws > 0),
        |k AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY rem DESC, l_partkey, l_suppkey) AS rk
        |  FROM r)
        |SELECT l_orderkey, l_partkey, l_suppkey, w AS weight,
        |  quota + CASE WHEN rk <= t - qsum THEN 1 ELSE 0 END AS alloc
        |FROM k""".stripMargin),

    // ── scale-safe equi-depth (the q120 family's 100-TB formulation):
    // boundaries from exact percentile_disc over the DETERMINISTIC md5
    // sample — ordered-set buffer bounded at rate·|orders| — counts
    // over the full table still exact against those boundaries ──
    QuerySpec("q166_equidepth_sampled", (s, dir) =>
      graft.operators.Histogram.equiDepthSampled(
        t(s, dir, "orders"), "o_totalprice", buckets = 8,
        sampleKey = col("o_orderkey"), rate = 0.2, salt = "eqd-v1"),
      // q120's shape with the boundary CTE restricted to the identical
      // md5 sample (thresholdHex(0.2) = '33333333' — the q58 predicate
      // mirroring); counts over the full table.
      """WITH sm AS (
        |  SELECT o_totalprice FROM orders
        |  WHERE substr(md5(concat_ws(':', 'eqd-v1',
        |    CAST(o_orderkey AS VARCHAR))), 1, 8) < '33333333'),
        |b AS (
        |  SELECT quantile_disc(o_totalprice, 0.125) AS b0,
        |    quantile_disc(o_totalprice, 0.25) AS b1,
        |    quantile_disc(o_totalprice, 0.375) AS b2,
        |    quantile_disc(o_totalprice, 0.5) AS b3,
        |    quantile_disc(o_totalprice, 0.625) AS b4,
        |    quantile_disc(o_totalprice, 0.75) AS b5,
        |    quantile_disc(o_totalprice, 0.875) AS b6
        |  FROM sm)
        |SELECT CASE WHEN o_totalprice <= b0 THEN 0 WHEN o_totalprice <= b1 THEN 1
        |  WHEN o_totalprice <= b2 THEN 2 WHEN o_totalprice <= b3 THEN 3
        |  WHEN o_totalprice <= b4 THEN 4 WHEN o_totalprice <= b5 THEN 5
        |  WHEN o_totalprice <= b6 THEN 6 ELSE 7 END AS bucket,
        |  count(*) AS n
        |FROM orders CROSS JOIN b
        |WHERE o_totalprice IS NOT NULL
        |GROUP BY 1""".stripMargin),

    // ── q150's daily bands with NO ordered-set buffer anywhere in the
    // plan: exact percentile_disc picked from the value histogram's
    // running weight (rational pick predicate, all-integer) —
    // IDENTICAL output, same oracle SQL as q150 ──
    QuerySpec("q167_daily_bands_hist", (s, dir) =>
      graft.operators.Quantiles.histPercentiles(
        t(s, dir, "events").select(dayKey(col("ts")).as("day"), col("value")),
        Seq("day"), expr("CAST(value * 100 AS BIGINT)"),
        Seq(("p10", 1L, 10L), ("p50", 1L, 2L), ("p90", 9L, 10L))),
      DailyBandsSql),

    // ── q143's median+MAD with NO ordered-set buffer: both passes on
    // the (key, value) histogram — identical output, same oracle ──
    QuerySpec("q168_mad_hist", (s, dir) =>
      graft.operators.Quantiles.madRobustHist(t(s, dir, "events"),
        "event_type", expr("CAST(value * 100 AS BIGINT)")),
      MadSql),

    // ── scale-safe winsorize: clip bounds from the md5-sampled exact
    // percentiles, comparison-only clip over the full table ──
    QuerySpec("q169_winsorize_sampled", (s, dir) =>
      graft.operators.Feature.winsorizeSampled(
          t(s, dir, "orders"), "o_totalprice", loQ = 0.05, hiQ = 0.95,
          sampleKey = col("o_orderkey"), rate = 0.2, salt = "win-v1")
        .select(col("o_orderkey"), col("o_totalprice"), col("clipped")),
      // q132's clip with the bounds CTE on the md5 sample
      // (thresholdHex(0.2) = '33333333').
      """WITH sm AS (
        |  SELECT o_totalprice FROM orders
        |  WHERE substr(md5(concat_ws(':', 'win-v1',
        |    CAST(o_orderkey AS VARCHAR))), 1, 8) < '33333333'),
        |b AS (
        |  SELECT quantile_disc(o_totalprice, 0.05) AS lo,
        |    quantile_disc(o_totalprice, 0.95) AS hi
        |  FROM sm)
        |SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_totalprice IS NOT NULL
        |    THEN greatest(lo, least(hi, o_totalprice)) END AS clipped
        |FROM orders CROSS JOIN b""".stripMargin)
  )
}
