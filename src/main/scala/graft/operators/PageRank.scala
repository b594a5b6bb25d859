package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank in integer fixed-point arithmetic — the
  * domain-authority / link-graph-quality score a web-corpus pipeline
  * feeds into document quality weighting.
  *
  * Two deliberate design choices, both about determinism at scale:
  *
  *  - FIXED-POINT INTEGERS, not doubles. rank is carried in micro-units
  *    (`units` = total mass, BIGINT) and every step is integer div /
  *    multiply / sum: contribution = rank div outdeg, damped mass =
  *    (Σ contributions · dampNum) div dampDen. Floating-point PageRank
  *    is reduction-order-sensitive (a parallel sum of doubles changes
  *    with partitioning), so two runs of the same job on different
  *    cluster layouts disagree in the last ulps — integer sums are
  *    associative, so this version is bit-identical on any layout, any
  *    engine (the oracle reproduces it exactly). The cost is the
  *    rounded-away remainder mass of each div (bounded by outdeg per
  *    node per iteration, ~1e-9 of total at units = 1e12) — a modeling
  *    tolerance, not nondeterminism.
  *
  *  - FIXED iterations with per-iteration localCheckpoint. Iterative
  *    DataFrame self-joins grow an exponential lineage (the
  *    connected-components lesson — ConnectedComponents.scala); the
  *    checkpoint truncates the plan each round so round i+1 plans
  *    against a materialized relation, and the node set + out-degreed
  *    edge list are checkpointed once and reused every round.
  *
  * Per-round shape: join ranks to edges on src (shuffle on src — at
  * scale, pre-partition both by src so rounds reuse the exchange), one
  * partial-agg sum on dst, left join back to the node set. Dangling
  * nodes (no out-edges) simply leak their mass — the usual simplified
  * formulation; both sides of the oracle agree on it.
  */
object PageRank {

  /** Returns (node, rank) with rank in integer `units` (Σ ranks ≈
    * units up to rounded-away remainders). `iterations` is typically
    * 3-20; convergence is geometric in dampNum/dampDen.
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String, iterations: Int,
      units: Long = 1000000000000L, dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations in [1,100], got $iterations")
    require(units > 0 && dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"need units > 0 and 0 <= dampNum <= dampDen, got $units $dampNum/$dampDen")
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    // NOTE: e feeds nodes (twice via the union), outdeg AND eDeg — a
    // caller whose edge DERIVATION is expensive (q220's extract→
    // resolve→canonicalize chain) must localCheckpoint its edges
    // before calling; an unconditional checkpoint here taxed the
    // cheap-derivation callers (q110 ~2x) for nothing
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val nCount = nodes.agg(count(lit(1)).as("n"))
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val eDeg = e.join(outdeg, "src").localCheckpoint()
    val teleport = s"(($units * ${dampDen - dampNum}) div $dampDen) div n"

    var ranks = nodes.crossJoin(nCount)
      .select(col("node"), expr(s"$units div n").as("rank"))
      .localCheckpoint()
    for (_ <- 1 to iterations) {
      val incoming = eDeg.join(ranks, eDeg("src") === ranks("node"))
        .select(col("dst"), expr("rank div outdeg").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("in_mass"))
      ranks = nodes.crossJoin(nCount)
        .join(incoming, col("node") === col("dst"), "left")
        .select(col("node"),
          (expr(teleport)
            + expr(s"(coalesce(in_mass, CAST(0 AS BIGINT)) * $dampNum) div $dampDen"))
            .as("rank"))
        .localCheckpoint()
    }
    ranks
  }
}
