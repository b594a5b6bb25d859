package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality rules — the expectation-suite pass a
  * 100-TB ingest runs before publishing a snapshot: each rule is a
  * boolean Column predicate, and the report is (rule, n_pass, n_rows,
  * pass_ppm, ok) with an integer parts-per-million pass rate (no FP —
  * engine-exact) judged against a per-report threshold.
  *
  * Shape: ONE aggregate over ONE scan regardless of rule count — every
  * rule becomes a conditional sum in the same Aggregate node (the
  * Profile.profile discipline: never one job per check), and the wide
  * 1-row result unpivots via inline(array(struct…)) without touching
  * the driver. Null predicate results count as FAILURES (a rule that
  * cannot evaluate did not pass — the conservative read).
  */
object Quality {

  /** `rules` are (name, predicate); names must be distinct and are
    * emitted verbatim. A row passes a rule iff the predicate is TRUE
    * (null → fail). `minPassPpm` sets the ok threshold: ok iff
    * pass_ppm >= minPassPpm.
    */
  def ruleReport(
      df: DataFrame, rules: Seq[(String, Column)], minPassPpm: Long): DataFrame = {
    require(rules.nonEmpty, "need at least one rule")
    require(rules.map(_._1).distinct.size == rules.size, "rule names must be distinct")
    require(minPassPpm >= 0 && minPassPpm <= 1000000L,
      s"minPassPpm in [0, 1e6], got $minPassPpm")
    val aggs = count(lit(1)).as("__total") +:
      rules.zipWithIndex.map { case ((_, p), i) =>
        sum(when(p, 1L).otherwise(0L)).as(s"__r$i")
      }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    wide.select(inline(array(rules.zipWithIndex.map { case ((name, _), i) =>
        struct(lit(name).as("rule"), col(s"__r$i").as("n_pass"),
          col("__total").as("n_rows"),
          expr(s"__r$i * 1000000 div __total").as("pass_ppm"))
      }: _*)))
      .withColumn("ok", col("pass_ppm") >= minPassPpm)
  }

  /** Referential-integrity audit: one row per declared foreign-key
    * edge — (edge, child_rows, null_keys, orphan_rows). Standard SQL FK
    * semantics: a NULL child key is not a violation (it is reported
    * separately); an orphan is a non-null child key with no matching
    * parent. Each edge is a LEFT join of the child's key column against
    * the DISTINCT parent keys, folded into a single aggregate — counts
    * only, so orphan_rows = count(child_key) − count(match) needs no
    * conditional sum (and no BIGINT-overflow-prone SUM in the oracle).
    *
    * Scale shape: the parent side is distinct-ed BEFORE the join, so a
    * dimension of any width joins as a 1-column key set (broadcast when
    * small — AQE decides); fact-to-fact edges shuffle on the key, one
    * exchange per edge. The per-edge 1-row aggregates union for free.
    */
  def fkOrphans(
      edges: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(edges.nonEmpty, "need at least one edge")
    require(edges.map(_._1).distinct.size == edges.size, "edge names must be distinct")
    edges.map { case (name, child, childKey, parent, parentKey) =>
      val p = parent.select(col(parentKey).as("__k")).distinct()
        .withColumn("__hit", lit(1))
      child.select(col(childKey).as("__k"))
        .join(p, Seq("__k"), "left")
        .agg(
          count(lit(1)).as("child_rows"),
          (count(lit(1)) - count(col("__k"))).as("null_keys"),
          (count(col("__k")) - count(col("__hit"))).as("orphan_rows"))
        .select(lit(name).as("edge"), col("child_rows"), col("null_keys"),
          col("orphan_rows"))
    }.reduce(_ unionByName _)
  }

  /** Candidate-key / grain audit: for each declared grain (name, frame,
    * key columns), report (grain, n_rows, distinct_keys, dup_rows,
    * max_per_key) — "is this column set really the table's grain, and
    * how badly does it leak". dup_rows = n_rows − distinct_keys is the
    * number of rows a dedup at that grain would drop; max_per_key is
    * the hottest key (the skew the q94 lineitem lesson was about).
    * NULL key components group as themselves, exactly as GROUP BY does.
    *
    * Shape per grain: one hash groupBy on the keys (partial-agg
    * counts), then a 1-row re-aggregate — the same two-level plan at
    * any scale, no window, no sort.
    */
  def grainReport(
      grains: Seq[(String, DataFrame, Seq[String])]): DataFrame = {
    require(grains.nonEmpty, "need at least one grain")
    require(grains.map(_._1).distinct.size == grains.size, "grain names must be distinct")
    grains.map { case (name, df, keys) =>
      require(keys.nonEmpty, s"grain $name needs at least one key column")
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
        .agg(sum(col("__n")).cast("long").as("n_rows"),
          count(lit(1)).as("distinct_keys"),
          max(col("__n")).as("max_per_key"))
        .select(lit(name).as("grain"), col("n_rows"), col("distinct_keys"),
          (col("n_rows") - col("distinct_keys")).as("dup_rows"),
          col("max_per_key"))
    }.reduce(_ unionByName _)
  }

  /** First-significant-digit (Benford) audit over a positive integral
    * measure: per leading digit 1–9, the count and integer-ppm share —
    * fabricated or systematically-generated numeric columns jump out
    * against the Benford curve (log10(1 + 1/d)). The digit comes from
    * the value's decimal string, not floor(log10) float math — exact
    * at every power-of-ten boundary. Non-positive and null values are
    * excluded (they have no leading significant digit).
    *
    * Shape: one projection + 9-group hash agg + a 1-row total
    * broadcast back.
    */
  def firstDigitReport(df: DataFrame, value: Column): DataFrame = {
    // checkpoint the 9-row digit aggregate: the total pass would
    // otherwise re-scan the corpus (SKILL.md multi-consumer lesson)
    val d = df.select(value.cast("long").as("__v"))
      .filter(col("__v") > 0)
      .select(substring(col("__v").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    d.crossJoin(d.agg(sum(col("n")).as("__t")))
      .select(col("digit"), col("n"), expr("(n * 1000000) div __t").as("ppm"))
  }
}
