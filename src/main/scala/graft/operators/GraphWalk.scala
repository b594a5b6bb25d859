package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic hash-driven graph walks — the DeepWalk/node2vec
  * corpus-generation step (Perozzi et al. KDD 2014) made replayable:
  * from each seed node, `steps` hops; at every hop the walker moves to
  * the out-neighbor minimizing md5("seed:step:u:v") (ties — md5
  * collisions — break on the neighbor id). This is the engine's
  * md5-threshold sampling discipline (q58/q107) applied to graphs: a
  * fixed pseudo-random choice BOTH engines can replay exactly, so the
  * sampled walks are row-certifiable against a step-unrolled SQL
  * oracle instead of being "random-looking, trust me".
  *
  * Walks don't branch (one row per seed per step) and a dead-end node
  * simply ends its walk early. Multi-edges collapse (the neighbor SET
  * decides); the walk is uniform over neighbors in the md5 order, not
  * degree-weighted.
  *
  * 100-TB shape: `steps` bounded joins of the frontier (|seeds| rows)
  * against the distinct edge table, each one keyed shuffle + one
  * argmin partial aggregate; localCheckpoint per hop keeps the
  * iterative lineage flat (the ConnectedComponents discipline). No
  * per-walk state beyond the frontier row.
  */
object GraphWalk {

  def walks(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, steps: Int): DataFrame =
    walksOver(
      edges.select(col(srcCol).as("__u"), col(dstCol).as("__v")).distinct(),
      seeds, seedCol, steps)

  /** walks() with the per-hop EDGE shuffle removed — the
    * persisted-index discipline applied to the frontier probe. The
    * plain form joins the frontier against the distinct edge table
    * every hop, and on a sort-merge plan that re-exchanges + re-sorts
    * |E| rows per hop; here the edge table is written ONCE as a
    * bucketed+sorted table on the source node (`bucketBy(buckets,
    * "__u").sortBy("__u","__v")`), so every hop's join reads the edge
    * buckets in place — only the frontier (|seeds| rows) moves through
    * an exchange, and the edge side needs neither shuffle nor sort
    * (PageRankSpec asserts no `Exchange hashpartitioning(__u` above the
    * bucketed scan). Results are identical to walks() — same edge set,
    * same md5 argmin — so the variant certifies against the SAME
    * oracle (q212 reuses q205's SQL verbatim).
    *
    * `table`/`path` should be content-keyed by the caller (the
    * q88/q79 stored-index discipline: IndexStore.fingerprint of the
    * source) so a regenerated edge set gets a fresh table; an existing
    * catalog table is reused as-is.
    */
  def walksBucketedEdges(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, steps: Int,
      buckets: Int, table: String, path: String): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val spark = edges.sparkSession
    if (!spark.catalog.tableExists(table)) {
      edges.select(col(srcCol).as("__u"), col(dstCol).as("__v")).distinct()
        .write.bucketBy(buckets, "__u").sortBy("__u", "__v")
        .option("path", path).mode("overwrite").saveAsTable(table)
    }
    walksOver(spark.table(table), seeds, seedCol, steps)
  }

  private def walksOver(
      e: DataFrame, seeds: DataFrame, seedCol: String, steps: Int): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    var frontier = seeds.select(col(seedCol).as("seed")).distinct()
      .select(col("seed"), lit(0).as("step"), col("seed").as("node"))
      .localCheckpoint()
    var out = frontier
    for (i <- 1 to steps) {
      frontier = frontier.join(e, frontier("node") === e("__u"))
        .select(col("seed"),
          struct(
            md5(concat_ws(":", col("seed"), lit(i), col("node"), col("__v"))).as("h"),
            col("__v").as("cand")).as("__hc"))
        .groupBy("seed")
        .agg(min(col("__hc")).getField("cand").as("node"))
        .select(col("seed"), lit(i).as("step"), col("node"))
        .localCheckpoint()
      out = out.unionByName(frontier)
    }
    out
  }

  /** Skip-gram training pairs from a walk corpus — the second half of
    * the DeepWalk data prep: every (center, context) node pair within
    * `window` steps on the same walk, counted. Per-walk cost is
    * L·window pairs (L = walk length, both bounded), through one
    * per-seed equi-join and one keyed count — no corpus-wide window.
    */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    val a = walks.select(col("seed"), col("step").as("__i"), col("node").as("center"))
    val b = walks.select(col("seed"), col("step").as("__j"), col("node").as("context"))
    a.join(b, Seq("seed"))
      .filter(col("__i") =!= col("__j") && abs(col("__i") - col("__j")) <= window)
      .groupBy("center", "context")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Integer node-feature engineering — the aggregation half of a
    * GraphSAGE-style pipeline, all-integer so it row-certifies: per
    * node its out/in degree, the mass of its out-neighborhood (sum of
    * neighbors' out-degrees = its 2-hop path count), and its distinct
    * 2-hop out-reach. Shapes: degree aggregates + one edge⨝edge
    * equi-join for the 2-hop rows — no iteration, no corpus-wide
    * window; every node of the graph keeps a row (degrees 0-filled).
    *
    * Hub guard: on a power-law graph the 2-hop join's shuffle key is
    * the INTERMEDIATE node, so a hub of in-degree dᵢ and out-degree dₒ
    * lands dᵢ·dₒ rows on one reducer. The join is therefore salted
    * (the [[SkewSalt.saltedJoin]] discipline, inlined because both
    * sides are the edge table): the in-edge side takes a deterministic
    * xxhash64 salt — replayable, NOT rand() — and the out-edge side is
    * replicated `saltBuckets`×, bounding any reducer at ~dᵢ·dₒ/buckets
    * rows for the price of buckets×|E| replicated shuffle volume.
    * Result is exactly the unsalted join (PageRankSpec proves equality
    * and measures the per-key spread on a planted hub); saltBuckets=1
    * degenerates to the plain equi-join.
    */
  def nodeFeatures(
      edges: DataFrame, srcCol: String, dstCol: String,
      saltBuckets: Int = 8): DataFrame = {
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    val e = edges.select(col(srcCol).as("__u"), col(dstCol).as("__v")).distinct()
    val nodes = e.select(col("__u").as("node"))
      .unionByName(e.select(col("__v").as("node"))).distinct()
    val outDeg = e.groupBy(col("__u").as("node")).agg(count(lit(1)).as("out_deg"))
    val inDeg = e.groupBy(col("__v").as("node")).agg(count(lit(1)).as("in_deg"))
    // (src)-[:a]->(mid)-[:b]->(dst): salt the a-side by its own edge
    // identity (edges are distinct, so (src, mid) is unique) and
    // replicate the b-side per bucket
    val a = e.select(col("__u").as("__src"), col("__v").as("__mid"))
      .withColumn("__salt",
        pmod(xxhash64(col("__src"), col("__mid")), lit(saltBuckets.toLong)))
    val b = e.select(col("__u").as("__mid"), col("__v").as("__dst"))
      .withColumn("__salt", explode(sequence(lit(0L), lit(saltBuckets - 1L))))
    val twoHop = a.join(b, Seq("__mid", "__salt"))
      .groupBy(col("__src").as("node"))
      .agg(count(lit(1)).as("n_paths2"),
        count_distinct(col("__dst")).as("n_reach2"))
    nodes
      .join(outDeg, Seq("node"), "left")
      .join(inDeg, Seq("node"), "left")
      .join(twoHop, Seq("node"), "left")
      .na.fill(0L, Seq("out_deg", "in_deg", "n_paths2", "n_reach2"))
  }

  /** Deterministic BOUNDED-POOL negative sampling — the other half of
    * the skip-gram training set: per center, up to `k` nodes drawn by
    * `probes` deterministic md5 probes into the globally-addressed
    * node dictionary, excluding the center itself and its positive
    * contexts (replayable like the walks, so the negatives
    * row-certify too).
    *
    * Mechanics (the q102 `Sampling.negativePairs` discipline, probed
    * globally instead of within-shard): the dictionary is addressed
    * once by [[Sampling.shuffleShards]] — (shard, shard_rank) with
    * shard-partitioned ranking windows, never a global sort — and
    * shard offsets (≤16^hexChars rows) give every node a global
    * position in [0, n). Probe j of center c lands on position
    * md5(salt:probe:c:j) mod n — a 60-bit draw (15 hex chars → conv
    * base-16, mirrored by the oracle's '0x'||substr(…,1,15) BIGINT
    * cast), so positions cover dictionaries up to 2^60 nodes; an
    * 8-char draw would cap reachable positions at 2^32, silently
    * non-uniform on a >4.3B-node web-scale dictionary — uniform over
    * NODES, not shards — via
    * a broadcast range-join against the offsets and an equi-join into
    * the addressed dictionary. Candidates that hit the center, a
    * positive context, or a position an earlier probe already drew
    * are dropped (first probe wins), and the survivors rank by probe
    * order: rank 1..k, possibly fewer than k when many probes
    * collide — the documented bounded-pool semantics, mirrored
    * exactly by the oracle.
    *
    * 100-TB shape: cost is O(|centers|·probes) candidate rows — never
    * |centers|×|dictionary| — and nothing broadcasts the dictionary:
    * the only hinted broadcast is the ≤16^hexChars-row shard-offset
    * aggregate (PageRankSpec asserts it). The old
    * full-dictionary argmin form (crossJoin ⨯ broadcast(nodes)) is
    * deliberately gone: it could not run on a web-scale node set.
    */
  def negativeSamples(
      pairs: DataFrame, nodes: DataFrame, k: Int, probes: Int = 16,
      hexChars: Int = 2, salt: String = "gneg-v1"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(probes >= k, s"probes ($probes) must be >= k ($k)")
    val addressed = Sampling.shuffleShards(
      nodes.select(col("node")), col("node"), salt, hexChars)
    val sizes = addressed.groupBy("shard").agg(count(lit(1)).as("shard_size"))
    // exclusive prefix-sum over ≤16^hexChars aggregate rows — a global
    // window, but over the shard-count aggregate, never the dictionary
    val offsets = sizes.withColumn("__offset",
      sum(col("shard_size")).over(org.apache.spark.sql.expressions.Window
        .orderBy("shard")) - col("shard_size"))
    val total = sizes.agg(sum(col("shard_size")).as("__n_total"))
    val probed = pairs.select("center").distinct()
      .withColumn("j", explode(sequence(lit(1), lit(probes))))
      .crossJoin(total)
      .withColumn("__pos", pmod(
        conv(substring(md5(concat_ws(":", lit(salt), lit("probe"),
          col("center"), col("j"))), 1, 15), 16, 10).cast("long"),
        col("__n_total")))
    // bound: 16^hexChars shard-offset rows
    val located = probed.join(broadcast(offsets),
        col("__pos") >= col("__offset") &&
          col("__pos") < col("__offset") + col("shard_size"))
      .select(col("center"), col("j"), col("shard"),
        (col("__pos") - col("__offset") + 1).as("shard_rank"))
    val cand = located.join(addressed, Seq("shard", "shard_rank"))
      .select(col("center"), col("j"), col("node").as("negative"))
      .filter(col("negative") =!= col("center"))
      .join(pairs.select(col("center"), col("context").as("negative")),
        Seq("center", "negative"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("center")
      .orderBy(col("__j").asc, col("negative").asc)
    cand
      .groupBy("center", "negative").agg(min(col("j")).as("__j"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("center", "negative", "rank")
  }
}
