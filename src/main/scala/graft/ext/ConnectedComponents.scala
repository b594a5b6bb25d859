package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed connected components — the cluster step of the dedup
  * pipeline: near-dup PAIRS (from `Dedup.nearDupPairsMinhash`,
  * `SimHash`, or `SimSearch.nearDupPairsCosineLsh`) become CLUSTERS
  * with a deterministic min-id representative, so "keep one document
  * per duplicate cluster" is a single equi-join away.
  *
  * Algorithm: alternating large-star / small-star contraction
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * ACM SoCC 2014). Each round is two whole-partition window minimums
  * plus a distinct — narrow (long, long) rows keyed by node id, no
  * windows over the full corpus, no driver-side row data — and the
  * edge set provably contracts to min-rooted star forests in
  * O(log n) rounds regardless of topology. Min-label propagation
  * (the obvious alternative) needs O(diameter) rounds: a 1M-node
  * chain of pairwise near-dups would take 1M shuffles there and ~20
  * here.
  *
  * Iteration mechanics at scale: every round's result is checkpointed
  * (reliable checkpoint when `spark.sparkContext.setCheckpointDir`
  * was called, else a local checkpoint) — without lineage truncation
  * an iterative DataFrame loop re-optimizes a plan that doubles per
  * round and re-executes the whole history on failure. Convergence is
  * detected by testing the fixpoint shape directly ([[isStarForest]]
  * — one narrow aggregate per round, no edge-set `except`), so the
  * loop stops at the FIRST min-rooted star forest instead of paying a
  * full extra contraction round to observe an unchanged fingerprint.
  */
object ConnectedComponents {

  /** Large-star: every node w connects its LARGER neighbors to
    * m = min(N(w) ∪ {w}). Input/output edges satisfy u < v.
    *
    * No `.distinct()` here (round-19 optimization — one exchange per
    * round removed): the output has at most |e| rows with or without
    * it (each undirected edge survives the v > u filter exactly once),
    * duplicates only arise when two nodes share both a minimum and a
    * neighbor, and [[smallStar]] is duplicate-insensitive — its
    * per-v window min ignores multiplicity and its own terminal
    * `.distinct()` restores set semantics before the fixpoint test.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val w = Window.partitionBy("u")
    nbrs
      .withColumn("m", least(min(col("v")).over(w), col("u")))
      .filter(col("v") > col("u"))
      .select(col("m").as("u"), col("v"))
  }

  /** Small-star: every node w connects its SMALLER-or-self closure to
    * m = min of its smaller neighbors: with edges oriented u < v,
    * group by the large endpoint v, attach every u (and v itself) to
    * min(u). Input/output edges satisfy u < v.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val w = Window.partitionBy("v")
    val withMin = e.withColumn("m", min(col("u")).over(w))
    val attachSmaller = withMin
      .filter(col("u") =!= col("m"))
      .select(col("m").as("u"), col("u").as("v"))
    val attachLarge = withMin.select(col("m").as("u"), col("v"))
    attachSmaller.union(attachLarge).distinct()
  }

  /** Direct fixpoint test (round-19 optimization): a distinct u < v
    * edge set is a min-rooted star forest — the algorithm's proven
    * fixpoint shape (Kiveris et al. §3) — iff no node appears both as
    * a root (u) and a leaf (v), and no leaf has two parents. Both
    * conditions fold into ONE narrow aggregate over 2|e| rows plus a
    * take(1). largeStar and smallStar each map a star forest to
    * itself (roots have only larger neighbors; leaves' only smaller
    * neighbor is their root), so stopping at the FIRST star forest
    * returns the exact edge set the previous fingerprint-equality
    * criterion converged to — one whole contraction round (4 shuffles
    * + a checkpoint) cheaper, and the test itself replaces the old
    * per-round fingerprint aggregate at the same O(|e|) cost. The
    * caller still bounds rounds with `maxIter` for defense in depth.
    */
  private def isStarForest(e: DataFrame): Boolean =
    e.select(col("v").as("n"), lit(1L).as("lf"), lit(0L).as("rt"))
      .union(e.select(col("u").as("n"), lit(0L).as("lf"), lit(1L).as("rt")))
      .groupBy("n")
      .agg(sum(col("lf")).as("lf"), sum(col("rt")).as("rt"))
      .filter(col("lf") > 1 || (col("lf") > 0 && col("rt") > 0))
      .isEmpty

  /** Connected components of an undirected graph given as an edge
    * list. Returns one row per non-isolated node:
    * (node, component) where component = the smallest node id in the
    * node's component (deterministic, oracle-checkable). Isolated
    * nodes don't appear (they have no edges); see `dedupClusters` for
    * the left-join closure over a node universe.
    */
  def connectedComponents(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30): DataFrame = {
    val spark = edges.sparkSession
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    def truncate(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()

    var e = truncate(
      edges
        .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
        .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
        .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
        .distinct())
    var converged = isStarForest(e)
    var it = 0
    while (!converged && it < maxIter) {
      e = truncate(smallStar(largeStar(e)))
      converged = isStarForest(e)
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // fixpoint is a min-rooted star forest: u is the component root
    e.select(col("v").as("node"), col("u").as("component"))
      .union(e.select(col("u").as("node"), col("u").as("component")))
      .distinct()
  }

  /** Dedup-cluster assignment for EVERY document: docs that appear in
    * a near-dup pair get their component's min doc id as cluster;
    * docs with no pair are their own singleton cluster. Output:
    * (idCol, cluster, cluster_size, is_representative) — downstream
    * "keep one per cluster" is `filter(is_representative)`.
    */
  def dedupClusters(
      docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    val w = Window.partitionBy("cluster")
    docs
      .select(col(idCol))
      .join(cc, col(idCol) === col("node"), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("cluster"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("is_representative", col(idCol) === col("cluster"))
  }

  /** INCREMENTAL cluster maintenance — fold a new batch into an
    * existing [[dedupClusters]] assignment without re-clustering the
    * corpus. The batch arc of the cluster lifecycle (the q89/q174
    * discipline on the clustering side): cost is O(|batch| + members
    * of TOUCHED clusters), never O(corpus).
    *
    * Correctness argument (and why the result can share q55's full-
    * recompute oracle): old clusters are complete components of the
    * old pair graph, and every NEW edge is incident to a batch node —
    * so the full graph's components are exactly: untouched old
    * components, plus components formed from batch nodes and the
    * touched clusters they bridge. Rebuilding CC on [touched members +
    * batch] with member→representative binding edges (a star per
    * touched cluster) reproduces those merged components, and the
    * min-id label agrees because min(A ∪ B) = min(min A, min B).
    * Untouched rows pass through byte-identical — cluster_size cannot
    * have changed (a batch member can only join a cluster through an
    * edge, which would have touched it).
    *
    * `crossPairs` carries (batchCol, oldCol) edges from an index probe;
    * `batchPairs` carries batch-internal edges.
    */
  def incrementalClusters(
      assign: DataFrame, idCol: String, batchIds: DataFrame,
      crossPairs: DataFrame, crossBatchCol: String, crossOldCol: String,
      batchPairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // The batch-derived sides (touched draw, touched set, rebuilt
    // component map) are bounded only by this operator's cost contract,
    // so the planner picks each join from their sizes: a batch too big
    // to broadcast shuffles instead of failing.
    val touched = crossPairs.select(col(crossOldCol).as("__old"))
      .join(assign.select(col(idCol).as("__old"), col("cluster")), Seq("__old"))
      .select(col("cluster").as("__tc")).distinct()
    val members = assign
      .join(touched, col("cluster") === col("__tc"), "left_semi")
    val bind = members.filter(col(idCol) =!= col("cluster"))
      .select(col(idCol).as("u"), col("cluster").as("v"))
    val edges = crossPairs
      .select(col(crossBatchCol).cast("long").as("u"), col(crossOldCol).cast("long").as("v"))
      .unionByName(batchPairs
        .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v")))
      .unionByName(bind.select(col("u").cast("long"), col("v").cast("long")))
    val cc = connectedComponents(edges, "u", "v")
    val nodes = batchIds.select(col(idCol))
      .unionByName(members.select(col(idCol))).distinct()
    val w = Window.partitionBy("cluster")
    val reassigned = nodes
      .join(cc, col(idCol) === col("node"), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("cluster"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("is_representative", col(idCol) === col("cluster"))
    assign
      .join(touched, col("cluster") === col("__tc"), "left_anti")
      .select(col(idCol), col("cluster"), col("cluster_size"), col("is_representative"))
      .unionByName(reassigned)
  }

  /** Canonical-document selection — "which copy do we KEEP?". The
    * min-id representative of [[dedupClusters]] is arbitrary; real
    * dedup keeps the BEST member (longest, highest quality score,
    * freshest crawl). Picks argmax(`scoreCol`) per cluster, ties broken
    * by min id so the choice is total and deterministic. One
    * cluster-keyed window over rows already carrying their cluster —
    * no extra join beyond scoring; at 100 TB the window partitions by
    * cluster (millions of small groups), never a global sort.
    * Output: (cluster, canon_id, score of the canon doc, cluster_size).
    */
  def canonicalPerCluster(
      clusters: DataFrame, idCol: String,
      scored: DataFrame, scoreCol: String): DataFrame = {
    val w = Window.partitionBy("cluster")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    clusters
      .join(scored.select(col(idCol), col(scoreCol)), Seq(idCol))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("cluster"), col(idCol).as("canon_id"),
        col(scoreCol), col("cluster_size"))
  }
}
