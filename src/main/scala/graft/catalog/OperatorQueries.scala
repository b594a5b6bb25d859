package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.ColumnLib._

import Shared._

/** The engine's own operators: as-of, range and bloom joins, salting,
  * merge/CDC/SCD2, layout and compaction, index-store checks,
  * sessions, and graph walks, skip-grams and PageRank.
  */
object OperatorQueries {

  /** Morton-interleave SQL over pre-bucketed columns `a`/`b` — bit i of
    * a at position 2i+1, of b at 2i (mirrors Layout.mortonInterleave;
    * the terms occupy disjoint bits so + == OR). Generated, not
    * hand-written: 2·bits terms.
    */
  private def mortonSql(a: String, b: String, bits: Int): String =
    (0 until bits).flatMap(i => Seq(
      s"((($a >> $i) & 1) << ${2 * i + 1})",
      s"((($b >> $i) & 1) << ${2 * i})")).mkString(" + ")

  /** DuckDB's NATIVE ASOF LEFT JOIN over events — most recent
    * preceding 'view' per user for every 'purchase'. Shared verbatim
    * by q49 (the union+window rewrite) and q196 (the native Catalyst
    * merge operator): both engine paths are certified against the same
    * independent first-class implementation of the semantics, so they
    * cannot drift apart.
    */
  private val AsofEventsSql: String =
    """WITH v AS (
      |  SELECT user_id, ts, max(event_id) AS view_id
      |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
      |p AS (
      |  SELECT event_id, user_id, ts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id,
      |  epoch_us(p.ts) AS t_us,
      |  epoch_us(v.ts) AS view_us,
      |  v.view_id
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin

  /** q205's step-unrolled walk oracle: each hop is a (md5, neighbor)
    * row_number argmin over the previous frontier joined to the
    * distinct edge set — the same hash string Spark's concat_ws
    * builds, so the walks replay bit for bit.
    */
  private val GraphWalkChainSql: String = {
    val head =
      """WITH e AS (
        |  SELECT DISTINCT o_custkey % 40 AS u, o_orderkey % 40 AS v
        |  FROM orders WHERE o_custkey % 40 <> o_orderkey % 40),
        |s0 AS (SELECT DISTINCT u AS seed, CAST(0 AS INTEGER) AS step, u AS node FROM e)""".stripMargin
    val hops = (1 to 4).map { i =>
      s"""s$i AS (
         |  SELECT seed, CAST($i AS INTEGER) AS step, node FROM (
         |    SELECT w.seed, e.v AS node,
         |      row_number() OVER (PARTITION BY w.seed ORDER BY
         |        md5(CAST(w.seed AS VARCHAR) || ':$i:' ||
         |            CAST(w.node AS VARCHAR) || ':' || CAST(e.v AS VARCHAR)), e.v) AS rk
         |    FROM s${i - 1} w JOIN e ON e.u = w.node)
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val union = (0 to 4).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
    head + ",\n" + hops + s",\nw AS ($union)"
  }

  private val GraphWalkSql: String =
    GraphWalkChainSql + "\nSELECT * FROM w"

  /** q209: skip-gram (center, context) pair counts within window 2
    * over the SAME certified walks — the DeepWalk data-prep completed
    * (walk corpus → training pairs).
    */
  private val SkipGramChainSql: String =
    GraphWalkChainSql +
      """,
        |pairs AS (
        |  SELECT a.node AS center, b.node AS context,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM w a JOIN w b
        |    ON a.seed = b.seed AND a.step <> b.step AND abs(a.step - b.step) <= 2
        |  GROUP BY a.node, b.node)""".stripMargin

  private val SkipGramSql: String =
    SkipGramChainSql + "\nSELECT * FROM pairs"

  /** q210: bounded-pool negatives per center — 16 deterministic md5
    * probes into the shard-addressed node dictionary (the q86/q102
    * shuffleShards permutation, probed globally via shard offsets),
    * first-probe-wins dedup, anti-join positives, first 3 by probe
    * order. Mirrors GraphWalk.negativeSamples step for step; the
    * '0x'||hex → BIGINT cast mirrors Spark's conv(_,16,10) (q107).
    */
  private val NegativeSamplesSql: String =
    SkipGramChainSql +
      """,
        |nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
        |addr AS (
        |  SELECT node, substr(h, 1, 2) AS shard,
        |    row_number() OVER (PARTITION BY substr(h, 1, 2) ORDER BY h, node)
        |      AS shard_rank
        |  FROM (SELECT node,
        |      md5(concat_ws(':', 'gneg-v1', CAST(node AS VARCHAR))) AS h
        |    FROM nodes)),
        |sz AS (SELECT shard, count(*) AS shard_size FROM addr GROUP BY 1),
        |ofs AS (SELECT shard, shard_size,
        |  sum(shard_size) OVER (ORDER BY shard) - shard_size AS off FROM sz),
        |tot AS (SELECT CAST(sum(shard_size) AS BIGINT) AS n_total FROM sz),
        |pr AS (
        |  SELECT c.center, j.j,
        |    CAST(('0x' || substr(md5(concat_ws(':', 'gneg-v1', 'probe',
        |      CAST(c.center AS VARCHAR), CAST(j.j AS VARCHAR))), 1, 15))
        |      AS BIGINT) % t.n_total AS pos
        |  FROM (SELECT DISTINCT center FROM pairs) c
        |  CROSS JOIN (SELECT unnest(range(1, 17)) AS j) j
        |  CROSS JOIN tot t),
        |loc AS (
        |  SELECT p.center, p.j, o.shard, p.pos - o.off + 1 AS shard_rank
        |  FROM pr p JOIN ofs o
        |    ON p.pos >= o.off AND p.pos < o.off + o.shard_size),
        |cand AS (
        |  SELECT l.center, l.j, a.node AS negative
        |  FROM loc l JOIN addr a
        |    ON a.shard = l.shard AND a.shard_rank = l.shard_rank
        |  WHERE a.node <> l.center
        |    AND NOT EXISTS (SELECT 1 FROM pairs p
        |      WHERE p.center = l.center AND p.context = a.node)),
        |dd AS (SELECT center, negative, min(j) AS j FROM cand GROUP BY 1, 2)
        |SELECT center, negative,
        |  row_number() OVER (PARTITION BY center ORDER BY j, negative) AS rank
        |FROM dd QUALIFY rank <= 3""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // ── lead/lag window (beyond-reference window coverage). Two-level
    // aggregation: exact-decimal partials at (partkey, month) below the
    // join, re-aggregated to brand after — decimal addition is
    // associative, so the result is bit-identical to the single-level
    // form while the join moves partials instead of line items ──
    QuerySpec("q11_window_lag", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val li = t(s, dir, "lineitem")
      val partial = li
        .withColumn("month", monthKey(col("l_shipdate")))
        .groupBy("l_partkey", "month")
        .agg(sum(dec2(col("l_extendedprice"))).as("rev_part"))
      val g = partial
        .join(t(s, dir, "part"), partial("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "month")
        .agg(asDouble(sum(col("rev_part"))).as("revenue"))
      val w = Window.partitionBy("p_brand").orderBy("month")
      g.withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
        .withColumn("delta", col("revenue") - col("prev_revenue"))
    },
      """WITH g AS (
        |  SELECT p_brand, strftime(l_shipdate, '%Y-%m') AS month,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2)
        |SELECT p_brand, month, revenue,
        |  LAG(revenue) OVER (PARTITION BY p_brand ORDER BY month) AS prev_revenue,
        |  revenue - LAG(revenue) OVER (PARTITION BY p_brand ORDER BY month) AS delta
        |FROM g""".stripMargin),

    // ── salted two-phase aggregation: the skew pattern — deterministic
    // salt, partial sums, re-aggregate; result provably equals the
    // plain groupBy (the oracle computes the plain form) ──
    QuerySpec("q33_salted_agg", (s, dir) => {
      import graft.operators.SkewSalt
      SkewSalt.saltedSum(t(s, dir, "events"), Seq("event_type"),
          dec2(col("value")), "total", col("event_id"), saltBuckets = 16)
        .select(col("event_type"), asDouble(col("total")).as("total"))
    },
      // The salted two-phase sum is algebraically the plain sum (decimal
      // addition is exact and associative), so the oracle is the direct
      // groupBy.
      """SELECT event_type,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type""".stripMargin),

    // ── gap-based sessionization (30-min gap): break flags + cumulative
    // session ids + per-session aggregate, all sharing ONE
    // hashpartitioning(user) shuffle; integer-microsecond gap math so
    // the oracle mirrors it exactly (see operators/Sessionize) ──
    QuerySpec("q43_sessions", (s, dir) =>
      graft.operators.Sessionize.sessions(t(s, dir, "events"), "user_id", "ts", 30,
        Some(asDouble(sum(dec2(col("value")))))),
      // Integer-microsecond gap math (epoch_us) mirrors Spark's
      // unix_micros exactly; tie rows carry delta 0 so session boundaries
      // are order-independent (see Sessionize scaladoc).
      """WITH d AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
        |           OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid""".stripMargin),

    // ── as-of join (operators/AsofJoin): most recent preceding 'view'
    // per user for every 'purchase' — the union+window rewrite (one
    // hashpartitioning(user) exchange, no theta-join); right side
    // pre-aggregated to (user, ts) uniqueness per the operator
    // contract. The oracle is DuckDB's NATIVE ASOF LEFT JOIN, so the
    // rewrite is certified against an independent first-class
    // implementation of the semantics. ──
    QuerySpec("q49_asof_join", (s, dir) => {
      import graft.operators.AsofJoin
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max(col("event_id")).as("view_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      AsofJoin.asofLeft(purchases, views, "user_id", "ts", "ts", Seq("view_id"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"),
          unix_micros(col("asof_time")).as("view_us"),
          col("view_id"))
    },
      // DuckDB's native ASOF LEFT JOIN is the independent truth for the
      // union+window rewrite; both engines compare on the same
      // microsecond timestamps.
      AsofEventsSql),

    // ── as-of join as a NATIVE Catalyst operator (plans/AsofMergeJoin:
    // custom LogicalPlan + planner Strategy + SparkPlan — the engine's
    // whole-operator extension tier): q49's exact workload through the
    // per-partition streaming merge instead of the union+window
    // rewrite. Same single co-partitioned exchange pair, but each side
    // keeps its own width (no union null-padding through the shuffle),
    // no window buffer, no post-filter; O(1) carried state per task.
    // Certified against q49's IDENTICAL DuckDB ASOF JOIN oracle, so
    // the two engine paths cannot drift apart. ──
    QuerySpec("q196_asof_native", (s, dir) => {
      import graft.plans.AsofMergeJoin
      val ev = t(s, dir, "events")
      // NOT repartition(user_id)-before-aggregate: that would merge
      // the right side's two exchanges into one, but the A/B measured
      // it SLOWER (0.48 vs 0.39 s sf0.1) — the aggregate's first
      // exchange ships map-side-combined partial rows while a
      // repartition ships every raw view row. Fewer exchanges is not
      // less data moved; the second exchange carries only the deduped
      // (user_id, ts) grain.
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max(col("event_id")).as("view_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      AsofMergeJoin.asofLeft(purchases, views, "user_id", "ts", "ts", Seq("view_id"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"),
          unix_micros(col("asof_time")).as("view_us"),
          col("view_id"))
    },
      // identical-oracle certification (the q186/q187 discipline): the
      // native merge operator must reproduce the union+window rewrite's
      // certified rows bit for bit on the same input.
      AsofEventsSql),

    // ── tolerance-bounded as-of (plans/AsofMergeJoin.asofLeftWithin):
    // the feature-freshness contract of a feature-store join — a view
    // older than 24 h at purchase time is not an acceptable feature,
    // so its match is NULLED (the purchase row survives with null
    // features; dropping it would bias any downstream aggregate). The
    // gate is calibrated to bite without saturating: match-age
    // quantiles on this corpus are p50 ≈ 14 h / p75 ≈ 34 h, so ~40%
    // of real matches go stale (a 1 h gate nulled 1941/1981 —
    // vacuous the other way). One `when` per emitted column over the
    // native merge; the oracle is DuckDB's ASOF JOIN with the same
    // CASE gate. ──
    QuerySpec("q201_asof_fresh", (s, dir) => {
      import graft.plans.AsofMergeJoin
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max(col("event_id")).as("view_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      AsofMergeJoin.asofLeftWithin(purchases, views, "user_id", "ts", "ts",
          Seq("view_id"), maxAgeUs = 86400000000L)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"),
          unix_micros(col("asof_time")).as("view_us"),
          col("view_id"))
    },
      // DuckDB ASOF JOIN + the same 24-hour CASE gate: stale matches
      // null out, the purchase row itself survives.
      """WITH v AS (
        |  SELECT user_id, ts, max(event_id) AS view_id
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
        |p AS (
        |  SELECT event_id, user_id, ts
        |  FROM events WHERE event_type = 'purchase'),
        |a AS (
        |  SELECT p.event_id, p.user_id,
        |    epoch_us(p.ts) AS t_us, epoch_us(v.ts) AS view_us, v.view_id
        |  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts)
        |SELECT event_id, user_id, t_us,
        |  CASE WHEN t_us - view_us <= 86400000000 THEN view_us END AS view_us,
        |  CASE WHEN t_us - view_us <= 86400000000 THEN view_id END AS view_id
        |FROM a""".stripMargin),

    // ── skip-gram pairs over the certified walks (q205 completed
    // into the full DeepWalk data prep): every (center, context) node
    // pair within window 2 on the same walk, counted — the training
    // pairs a node-embedding run consumes. Same md5-replayable walks,
    // so the pair table row-certifies against the chain + one
    // self-join in SQL. ──
    QuerySpec("q209_skipgram_pairs", (s, dir) => {
      val edges = t(s, dir, "orders")
        .select((col("o_custkey") % 40).as("src"), (col("o_orderkey") % 40).as("dst"))
        .filter(col("src") =!= col("dst"))
      graft.operators.GraphWalk.skipGramPairs(
        graft.operators.GraphWalk.walks(edges, "src", "dst",
          edges.select(col("src")), "src", steps = 4),
        window = 2)
    },
      SkipGramSql),

    // ── deterministic BOUNDED-POOL negative sampling (the other half
    // of the q209 skip-gram training set): per center, up to 3 nodes
    // drawn by 16 md5 probes into the shard-addressed dictionary
    // (cost O(|centers|·probes), never |centers|×|nodes| — the
    // web-scale shape), excluding the center and its positive
    // contexts; replayable like the walks, so the negatives
    // row-certify against the same chain + the probe arithmetic. ──
    QuerySpec("q210_negative_samples", (s, dir) => {
      val edges = t(s, dir, "orders")
        .select((col("o_custkey") % 40).as("src"), (col("o_orderkey") % 40).as("dst"))
        .filter(col("src") =!= col("dst"))
      val pairs = graft.operators.GraphWalk.skipGramPairs(
        graft.operators.GraphWalk.walks(edges, "src", "dst",
          edges.select(col("src")), "src", steps = 4),
        window = 2)
      val nodes = edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node"))).distinct()
      graft.operators.GraphWalk.negativeSamples(pairs, nodes, k = 3)
    },
      NegativeSamplesSql),

    // ── integer node features (GraphSAGE-style feature engineering):
    // per node — out/in degree, 2-hop path count (sum over
    // out-neighbors of their out-degree), distinct 2-hop reach. One
    // edge⨝edge equi-join, no iteration; every node keeps a 0-filled
    // row. All-integer, so the feature table row-certifies. ──
    QuerySpec("q211_node_features", (s, dir) => {
      val edges = t(s, dir, "orders")
        .select((col("o_custkey") % 40).as("src"), (col("o_orderkey") % 40).as("dst"))
        .filter(col("src") =!= col("dst"))
      graft.operators.GraphWalk.nodeFeatures(edges, "src", "dst")
    },
      """WITH e AS (
        |  SELECT DISTINCT o_custkey % 40 AS u, o_orderkey % 40 AS v
        |  FROM orders WHERE o_custkey % 40 <> o_orderkey % 40),
        |nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
        |od AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS out_deg FROM e GROUP BY u),
        |id AS (SELECT v AS node, CAST(count(*) AS BIGINT) AS in_deg FROM e GROUP BY v),
        |th AS (
        |  SELECT a.u AS node, CAST(count(*) AS BIGINT) AS n_paths2,
        |    CAST(count(DISTINCT b.v) AS BIGINT) AS n_reach2
        |  FROM e a JOIN e b ON a.v = b.u GROUP BY a.u)
        |SELECT n.node, coalesce(od.out_deg, 0) AS out_deg,
        |  coalesce(id.in_deg, 0) AS in_deg,
        |  coalesce(th.n_paths2, 0) AS n_paths2,
        |  coalesce(th.n_reach2, 0) AS n_reach2
        |FROM nodes n
        |LEFT JOIN od USING (node) LEFT JOIN id USING (node)
        |LEFT JOIN th USING (node)""".stripMargin),

    // ── deterministic graph walks (operators/GraphWalk — the
    // DeepWalk/node2vec corpus-generation step): 4-hop walks from
    // every source node of the q110 order graph, each hop an
    // md5("seed:step:u:v")-argmin neighbor choice — the md5-sampling
    // discipline on graphs, so the "random" walks replay exactly in
    // DuckDB (step-unrolled CTEs, same hash string, same (md5, id)
    // tie order) and the full walk set is row-certified. ──
    QuerySpec("q205_graph_walks", (s, dir) => {
      val edges = t(s, dir, "orders")
        .select((col("o_custkey") % 40).as("src"), (col("o_orderkey") % 40).as("dst"))
        .filter(col("src") =!= col("dst"))
      graft.operators.GraphWalk.walks(edges, "src", "dst",
        edges.select(col("src")), "src", steps = 4)
    },
      GraphWalkSql),

    // ── q205 through a BUCKETED edge table (the persisted-index
    // discipline applied to iterative graph probes): the distinct edge
    // set is written once bucketed+sorted on the source node, so each
    // hop's join moves only the FRONTIER through an exchange — the
    // edge side is read in place, never reshuffled or re-sorted
    // per hop. Same walk semantics ⇒ certified against q205's oracle
    // VERBATIM (the q185/q186/q187 identical-oracle discipline);
    // build-once content-keyed table, so the bench median measures
    // the probe-only path (q88 discipline). ──
    QuerySpec("q212_graph_walks_bucketed", (s, dir) => {
      val edges = t(s, dir, "orders")
        .select((col("o_custkey") % 40).as("src"), (col("o_orderkey") % 40).as("dst"))
        .filter(col("src") =!= col("dst"))
      val fp = graft.operators.IndexStore.fingerprint(s"$dir/orders.parquet")
      graft.operators.GraphWalk.walksBucketedEdges(edges, "src", "dst",
        edges.select(col("src")), "src", steps = 4, buckets = 8,
        table = s"graft_edges_w$fp",
        path = s"${System.getProperty("java.io.tmpdir")}/graft_edges_w$fp")
    },
      // identical-oracle certification: the bucketed-edges variant must
      // produce byte-identical walks
      GraphWalkSql),

    // ── zone-map file skipping (Layout.fileSkipPlan — the manifest-
    // tier planner that makes a 100-TB table queryable): synthetic
    // manifest with 10-wide file zones of 8+i%5 width (widths ≥10
    // overlap the next decade, so the [1000,2000] query has live
    // `scan` files at BOTH edges — i=99 crosses lo, i=199/200 cross
    // hi), partitions p0..p3 with only {p0,p1} queried. All four
    // decisions closed-form in the residues; partition pruning is
    // certified to fire BEFORE zone checks (pruned files whose zones
    // overlap stay pruned). ──
    QuerySpec("q270_file_skipping", (s, dir) => {
      val id = col("doc_id")
      val manifest = t(s, dir, "documents").select(
        concat(lit("f"), id.cast("string")).as("file"),
        concat(lit("p"), (id % 4).cast("string")).as("part"),
        (id * 10).cast("long").as("min_v"),
        (id * 10 + 8 + id % 5).cast("long").as("max_v"),
        (lit(100) + id % 50).cast("long").as("rows"))
      graft.operators.Layout.fileSkipPlan(manifest,
        "file", "part", "min_v", "max_v", "rows",
        Seq("p0", "p1"), 1000L, 2000L)
    },
      // file-skipping mirror: the four-way decision as residue CASE
      """WITH m AS (
        |  SELECT 'f' || CAST(doc_id AS VARCHAR) AS file,
        |    'p' || CAST(doc_id % 4 AS VARCHAR) AS part,
        |    CAST(doc_id * 10 AS BIGINT) AS min_v,
        |    CAST(doc_id * 10 + 8 + doc_id % 5 AS BIGINT) AS max_v,
        |    CAST(100 + doc_id % 50 AS BIGINT) AS rows,
        |    doc_id % 4 AS pn
        |  FROM documents)
        |SELECT file, part, min_v, max_v, rows,
        |  CASE WHEN pn >= 2 THEN 'partition_pruned'
        |       WHEN max_v < 1000 OR min_v > 2000 THEN 'skip'
        |       WHEN min_v >= 1000 AND max_v <= 2000 THEN 'full'
        |       ELSE 'scan' END AS decision
        |FROM m""".stripMargin),

    // ── store FSCK (IndexStore.fsck — the post-crash audit the
    // manifest-protocol stores need): a version exists IFF its
    // manifest does, so a v-dir without a manifest is invisible
    // crash debris (safe to clean), a manifest without its v-dir is
    // CORRUPT (reads resolve a version with no data), and stranded
    // .staging-/.swap-/.old- siblings are the atomic-commit
    // machinery's transient dirs. The fixture plants one of each
    // around a healthy committed version; the healthy version must
    // produce NO finding. Metadata-only listing. ──
    QuerySpec("q344_store_fsck", (s, _) => {
      import java.nio.file.Files
      val base = Files.createTempDirectory("graft_fsck")
      val root = base.resolve("store")
      Files.createDirectories(root.resolve("index"))
      Files.createDirectories(root.resolve("v000000001"))
      Files.createDirectories(root.resolve("_manifest"))
      Files.write(root.resolve("_manifest").resolve("v000000001.json"),
        "{}".getBytes("UTF-8"))
      Files.createDirectories(root.resolve("v000000002")) // orphan
      Files.write(root.resolve("_manifest").resolve("v000000003.json"),
        "{}".getBytes("UTF-8")) // dangling
      Files.createDirectories(base.resolve("store.staging-ab12"))
      Files.createDirectories(base.resolve("store.old-cd34"))
      graft.operators.IndexStore.fsck(s, root.toString)
    },
      // fsck mirror: the planted findings, closed-form (the healthy
      // committed version contributes nothing)
      """SELECT * FROM (VALUES
        |  ('dangling_manifest', 'v000000003', 'corrupt'),
        |  ('orphan_version', 'v000000002', 'debris'),
        |  ('stale_staging', 'store.old-cd34', 'debris'),
        |  ('stale_staging', 'store.staging-ab12', 'debris'))
        |  t(check_name, entry, severity)""".stripMargin),

    // ── fsck REPAIR (IndexStore.fsckRepair — q344's audit acted on):
    // debris deletes (orphans are invisible to readers by protocol,
    // removal always safe), CORRUPT entries are REFUSED — deleting a
    // dangling manifest would rewrite committed history; that fix is
    // an operator decision. The query plants the q344 states, runs
    // the repair, and returns the audit trail PLUS a post-repair
    // re-audit appended as re_check rows — which must show ONLY the
    // refused corruption surviving. ──
    QuerySpec("q347_store_fsck_repair", (s, _) => {
      import java.nio.file.Files
      val base = Files.createTempDirectory("graft_fsckr")
      val root = base.resolve("store")
      Files.createDirectories(root.resolve("index"))
      Files.createDirectories(root.resolve("v000000001"))
      Files.createDirectories(root.resolve("_manifest"))
      Files.write(root.resolve("_manifest").resolve("v000000001.json"),
        "{}".getBytes("UTF-8"))
      Files.createDirectories(root.resolve("v000000002"))
      Files.write(root.resolve("_manifest").resolve("v000000003.json"),
        "{}".getBytes("UTF-8"))
      Files.createDirectories(base.resolve("store.staging-ab12"))
      Files.createDirectories(base.resolve("store.old-cd34"))
      val trail = graft.operators.IndexStore.fsckRepair(s, root.toString)
      val after = graft.operators.IndexStore.fsck(s, root.toString)
        .select(concat(lit("re_check:"), col("check_name")).as("check_name"),
          col("entry"), col("severity"), lit("").as("action"))
      trail.unionByName(after)
    },
      // fsck-repair mirror: the audit trail + the post-repair re-audit
      // (only the refused corruption survives), closed-form
      """SELECT * FROM (VALUES
        |  ('dangling_manifest', 'v000000003', 'corrupt', 'kept'),
        |  ('orphan_version', 'v000000002', 'debris', 'deleted'),
        |  ('stale_staging', 'store.old-cd34', 'debris', 'deleted'),
        |  ('stale_staging', 'store.staging-ab12', 'debris', 'deleted'),
        |  ('re_check:dangling_manifest', 'v000000003', 'corrupt', ''))
        |  t(check_name, entry, severity, action)""".stripMargin),

    // ── deterministic sharded corpus shuffle ("shuffle once, stream
    // sequentially"): (shard, shard_rank) addresses form a reproducible
    // pseudo-random permutation; ranking windows partition per shard —
    // 256 independent partial sorts, no global sort ──
    QuerySpec("q86_shuffle_shards", (s, dir) =>
      graft.operators.Sampling.shuffleShards(
          t(s, dir, "documents").select("doc_id"), col("doc_id"),
          salt = "shuf-v1", hexChars = 2)
        .select("doc_id", "shard", "shard_rank"),
      // the md5 hex string is order-isomorphic to the draw on both
      // engines; ties broken by doc_id identically.
      """WITH h AS (
        |  SELECT doc_id,
        |         md5(concat_ws(':', 'shuf-v1', CAST(doc_id AS VARCHAR))) AS hx
        |  FROM documents)
        |SELECT doc_id, substr(hx, 1, 2) AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY substr(hx, 1, 2) ORDER BY hx, doc_id) AS BIGINT) AS shard_rank
        |FROM h""".stripMargin),

    // ── Bloom-filter join pruning (the explicit runtime-filter shape):
    // a compact filter built over the small side's keys prunes the big
    // side BEFORE the join shuffle; the exact semi join then removes
    // Bloom false positives, so the result is IDENTICAL to the plain
    // semi join and the oracle is the plain IN-subquery. At 100 TB this
    // is the difference between shuffling every orders row and
    // shuffling only plausible matches. ──
    QuerySpec("q56_bloom_join", (s, dir) =>
      graft.operators.BloomJoin.bloomSemiJoin(
          t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
          "o_custkey",
          t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING"),
          "c_custkey",
          expectedItems = 100000L, numBits = 1048576L),
      // The Bloom pre-filter is result-invisible (exact join removes
      // false positives), so the oracle is the plain semi join.
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_custkey IN (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')""".stripMargin),

    // ── bucketed range join (point-in-interval): which lineitems
    // shipped inside each selected order's 4-day window. The naive
    // theta-join is a BroadcastNestedLoopJoin; the operator's bucketed
    // rewrite makes it a narrow equi-join on a day bucket (RangeJoinSpec
    // asserts no nested loop survives in the plan). Day numbers are
    // integers, the quantity sum goes through exact decimal. ──
    QuerySpec("q57_range_join", (s, dir) => {
      val day = (c: Column) => datediff(to_date(c), lit("1970-01-01").cast("date"))
      val iv = t(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), day(col("o_orderdate")).cast("long").as("lo"),
          (day(col("o_orderdate")) + 4).cast("long").as("hi"))
      // aggregation pushed BELOW the range join: points with the same
      // day are indistinguishable to interval containment, so collapse
      // lineitem to one exact partial (n, qty) row per day first —
      // the join then handles |days|×spans rows instead of
      // |lineitem|×spans (measured 7.9 s → sub-second at sf0.1).
      // Summing the exact-decimal partials re-aggregates losslessly.
      val daily = t(s, dir, "lineitem")
        .groupBy(day(col("l_shipdate")).cast("long").as("ship_day"))
        .agg(count(lit(1)).as("n_day"), sum(dec2(col("l_quantity"))).as("qty_day"))
      graft.operators.RangeJoin.pointInInterval(daily, "ship_day", iv, "lo", "hi",
          bucketWidth = 4)
        .groupBy("o_orderkey")
        .agg(sum(col("n_day")).as("n_shipped"),
          asDouble(sum(col("qty_day"))).as("qty"))
    },
      // The bucketed rewrite is result-invisible; the oracle is the plain
      // range-predicate join.
      """WITH iv AS (
        |  SELECT o_orderkey,
        |    datediff('day', DATE '1970-01-01', o_orderdate) AS lo,
        |    datediff('day', DATE '1970-01-01', o_orderdate) + 4 AS hi
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |pt AS (
        |  SELECT datediff('day', DATE '1970-01-01', l_shipdate) AS d, l_quantity
        |  FROM lineitem)
        |SELECT o_orderkey, count(*) AS n_shipped,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        |FROM iv JOIN pt ON pt.d >= iv.lo AND pt.d < iv.hi
        |GROUP BY o_orderkey""".stripMargin),

    // ── native session_window (the declarative spelling of q43's
    // manual gap sessionization; also the streaming-aggregation form).
    // Boundary semantics differ at EXACTLY the gap: session_window
    // merges while next < last + gap (break at delta >= gap), the
    // manual form breaks at delta > gap — the oracle mirrors >=.
    // window.end is last-event + gap, so last_us subtracts the gap
    // back out to the actual last event. ──
    QuerySpec("q74_session_window", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          asDouble(sum(dec2(col("value")))).as("total_value"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("start_us"),
          (unix_micros(col("sw.end")) - lit(1800L * 1000000L)).as("last_us"),
          col("n_events"), col("total_value")),
      // break at delta >= gap (session_window semantics; see the query
      // comment), session bounds as epoch microseconds of actual events.
      """WITH d AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
        |           OVER (PARTITION BY user_id ORDER BY ts) >= 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d)
        |SELECT user_id,
        |  min(epoch_us(ts)) AS start_us,
        |  max(epoch_us(ts)) AS last_us,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid""".stripMargin),

    // ── CDC MERGE (upsert/delete changeset onto a snapshot): updates
    // rewrite matched rows, inserts add unmatched 'U' keys, deletes
    // drop matched keys, untouched rows pass through. The changeset is
    // derived from orders deterministically: even keys change (≡2 mod 8
    // are tombstones — keys the snapshot holds), snapshot = keys
    // %4 ≠ 0, so updates (≡2 mod 4), inserts (≡0 mod 4, absent from
    // the snapshot), deletes, and no-op rows are ALL exercised ──
    QuerySpec("q90_merge", (s, dir) => {
      val orders = t(s, dir, "orders")
      val snap = orders.filter(col("o_orderkey") % 4 =!= 0)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val chg = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 8 === 2, lit("D")).otherwise(lit("U")).as("op"),
          col("o_custkey"),
          (col("o_totalprice") + lit(1.0)).as("o_totalprice"),
          col("o_orderstatus"))
      graft.operators.Merge.merge(snap, chg, "o_orderkey", "op")
    },
      // MERGE as its relational definition: full outer join, change side
      // wins on 'U', 'D' rows (and their matched snapshot rows) dropped,
      // change-only rows must be upserts. o_totalprice + 1.0 is one IEEE
      // add on identical operands — exact in both engines.
      """WITH snap AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 4 <> 0),
        |chg AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 8 = 2 THEN 'D' ELSE 'U' END AS op,
        |    o_custkey, o_totalprice + 1.0 AS o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT coalesce(c.o_orderkey, s.o_orderkey) AS o_orderkey,
        |  CASE WHEN c.op = 'U' THEN c.o_custkey ELSE s.o_custkey END AS o_custkey,
        |  CASE WHEN c.op = 'U' THEN c.o_totalprice ELSE s.o_totalprice END AS o_totalprice,
        |  CASE WHEN c.op = 'U' THEN c.o_orderstatus ELSE s.o_orderstatus END AS o_orderstatus
        |FROM snap s FULL OUTER JOIN chg c ON s.o_orderkey = c.o_orderkey
        |WHERE coalesce(c.op, '') <> 'D'
        |  AND (s.o_orderkey IS NOT NULL OR c.op = 'U')""".stripMargin),

    // ── the FULL CDC path: raw per-key event log (lineitem plays the
    // log: (l_orderkey, l_linenumber) is the unique (key, LSN)) →
    // compactLog keeps the last op per key → merge applies it to the
    // snapshot. The compaction window and the merge join share the key,
    // so the log is shuffled once ──
    QuerySpec("q94_cdc", (s, dir) => {
      val snap = t(s, dir, "orders").filter(col("o_orderkey") % 4 =!= 0)
        .select("o_orderkey", "o_totalprice")
      val log = t(s, dir, "lineitem").select(
        col("l_orderkey").as("o_orderkey"),
        col("l_linenumber").as("seq"),
        when(col("l_returnflag") === "R", lit("D")).otherwise(lit("U")).as("op"),
        col("l_extendedprice").as("o_totalprice"))
      // (key, seq) ties exist in the synthetic log — (op, value) make
      // the order total, mirrored exactly in the oracle's ORDER BY
      val compacted = graft.operators.Merge.compactLog(
        log, "o_orderkey", "seq", col("op"), col("o_totalprice")).drop("seq")
      graft.operators.Merge.merge(snap, compacted, "o_orderkey", "op")
    },
      // compaction = last (key, seq) row; then q90's merge definition.
      """WITH snap AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 4 <> 0),
        |log AS (
        |  SELECT l_orderkey AS k, l_linenumber AS seq,
        |    CASE WHEN l_returnflag = 'R' THEN 'D' ELSE 'U' END AS op,
        |    l_extendedprice AS v
        |  FROM lineitem),
        |chg AS (
        |  SELECT k, op, v FROM log
        |  QUALIFY row_number() OVER (PARTITION BY k
        |    ORDER BY seq DESC, op DESC, v DESC) = 1)
        |SELECT coalesce(c.k, s.o_orderkey) AS o_orderkey,
        |  CASE WHEN c.op = 'U' THEN c.v ELSE s.o_totalprice END AS o_totalprice
        |FROM snap s FULL OUTER JOIN chg c ON s.o_orderkey = c.k
        |WHERE coalesce(c.op, '') <> 'D'
        |  AND (s.o_orderkey IS NOT NULL OR c.op = 'U')""".stripMargin),

    // ── skew-salted join: result == the plain inner join (what the
    // oracle certifies); the salted shape spreads each hot probe key
    // over 8 reducers. Money sum in exact DECIMAL, cast once at the
    // end ──
    QuerySpec("q95_salt_join", (s, dir) => {
      val joined = graft.operators.SkewSalt.saltedJoin(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice")),
        t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
        "l_orderkey", saltBuckets = 8)
      joined.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
    },
      // The salt is result-invisible: the oracle is the plain join+agg.
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o_orderpriority""".stripMargin),

    // ── bounded-buffer top-k per group (Aggregator, map-side reject):
    // same rows as the row_number window form, without sorting every
    // row of every group through the shuffle ──
    QuerySpec("q96_topk_agg", (s, dir) => {
      // a Product input encoder flattens the case class: the UDAF takes
      // (id, score) as two column arguments
      val topk = udaf(new graft.operators.TypedAgg.TopKByScore(3),
        org.apache.spark.sql.Encoders.product[graft.operators.TypedAgg.Scored])
      t(s, dir, "events")
        // Scored.score is a primitive Double: a null value would fail at
        // encoder time with an opaque non-nullable-field error, so
        // filter defensively like the q139/q150 siblings (round-7
        // advisory; the corpus has no null values today, so the oracle
        // mirror below is a no-op on current data)
        .filter(col("value").isNotNull)
        .groupBy("event_type")
        .agg(topk(col("event_id"), col("value")).as("top"))
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("event_id"), col("col.score").as("value"))
    },
      // The bounded-buffer aggregate must equal the window-rank form.
      """SELECT event_type, row_number() OVER w AS rank, event_id, value
        |FROM events
        |WHERE value IS NOT NULL
        |WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)
        |QUALIFY row_number() OVER w <= 3""".stripMargin),

    // ── incremental aggregation: history state + batch state merged by
    // the accumulators' own combine rules must equal the one-shot
    // aggregate over everything (the oracle). Exact accumulators only
    // (count, integer sum, max) so the equality is bit-level ──
    QuerySpec("q97_inc_agg", (s, dir) => {
      val ev = t(s, dir, "events")
      def st(d: DataFrame) = graft.operators.IncrementalAgg.state(
        d, Seq("event_type"),
        sums = Map("eid" -> col("event_id")), maxes = Map("value" -> col("value")))
      graft.operators.IncrementalAgg.merge(
          st(ev.filter(col("event_id") % 7 =!= 0)), // standing history state
          st(ev.filter(col("event_id") % 7 === 0)), // today's batch state
          Seq("event_type"))
        .withColumn("avg_eid",
          col("sum_eid").cast("double") / col("cnt").cast("double"))
    },
      // merge(state(history), state(batch)) must equal the ONE-SHOT
      // aggregate over all events — the incremental path is invisible.
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(event_id) AS BIGINT) AS sum_eid,
        |  max(value) AS max_value,
        |  CAST(CAST(sum(event_id) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_eid
        |FROM events
        |GROUP BY event_type""".stripMargin),

    // ── SCD type-2 merge: the changeset closes superseded versions
    // (valid_to = batch 2) and opens new ones instead of overwriting.
    // The dim seeds both closed history (%3 keys) and current rows;
    // changes exercise new-version, close-only (D), and brand-new-key
    // insert (≡0 mod 4 keys absent from the dim) ──
    QuerySpec("q98_scd2", (s, dir) => {
      val orders = t(s, dir, "orders")
      val open = orders.filter(col("o_orderkey") % 4 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"),
          lit(1L).as("valid_from"), lit(null).cast("long").as("valid_to"))
      val hist = orders.filter(col("o_orderkey") % 4 =!= 0 && col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") - lit(5.0)).as("o_totalprice"),
          lit(0L).as("valid_from"), lit(1L).as("valid_to"))
      val chg = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 8 === 2, lit("D")).otherwise(lit("U")).as("op"),
          (col("o_totalprice") + lit(1.0)).as("o_totalprice"))
      graft.operators.Merge.mergeScd2(
        hist.unionByName(open), chg, "o_orderkey", "op", batchSeq = 2L)
    },
      // SCD2 as its relational definition: history passes through, the
      // changeset closes current rows, 'U' rows open new versions.
      """WITH dim AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CAST(1 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
        |  FROM orders WHERE o_orderkey % 4 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice - 5.0,
        |    CAST(0 AS BIGINT), CAST(1 AS BIGINT)
        |  FROM orders WHERE o_orderkey % 4 <> 0 AND o_orderkey % 3 = 0),
        |chg AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 8 = 2 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice + 1.0 AS v
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT o_orderkey, o_totalprice, valid_from, valid_to
        |FROM dim WHERE valid_to IS NOT NULL
        |UNION ALL
        |SELECT d.o_orderkey, d.o_totalprice, d.valid_from,
        |  CASE WHEN c.op IS NOT NULL THEN CAST(2 AS BIGINT) ELSE d.valid_to END
        |FROM dim d LEFT JOIN chg c ON d.o_orderkey = c.k
        |WHERE d.valid_to IS NULL
        |UNION ALL
        |SELECT k, v, CAST(2 AS BIGINT), CAST(NULL AS BIGINT)
        |FROM chg WHERE op = 'U'""".stripMargin),

    // ── corpus version diff: v2 derived deterministically (every 11th
    // doc removed, every 7th edited, every 13th re-keyed as new) —
    // per-key status via side-local md5 fingerprints, so only
    // key+hash cross the shuffle, never the text ──
    QuerySpec("q103_diff", (s, dir) => {
      val v1 = t(s, dir, "documents").select("doc_id", "text", "lang", "source")
      val v2 = v1.filter(col("doc_id") % 11 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(dupSliceArm(v1))
      graft.operators.Diff.diff(v1, v2, "doc_id", Seq("text", "lang", "source"))
    },
      // chr(1) field delimiter / chr(2) null marker mirror
      // Diff.rowFingerprint's \u0001/\u0002 exactly.
      """WITH v1 AS (SELECT doc_id, text, lang, source FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
        |    lang, source
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, lang, source
        |  FROM documents WHERE doc_id % 13 = 0),
        |o AS (SELECT doc_id, md5(concat_ws(chr(1),
        |    coalesce(CAST(text AS VARCHAR), chr(2)),
        |    coalesce(CAST(lang AS VARCHAR), chr(2)),
        |    coalesce(CAST(source AS VARCHAR), chr(2)))) AS old_fp FROM v1),
        |n AS (SELECT doc_id, md5(concat_ws(chr(1),
        |    coalesce(CAST(text AS VARCHAR), chr(2)),
        |    coalesce(CAST(lang AS VARCHAR), chr(2)),
        |    coalesce(CAST(source AS VARCHAR), chr(2)))) AS new_fp FROM v2)
        |SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN old_fp = new_fp THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  old_fp, new_fp
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin),

    // ── interval coalescing: each line item occupies
    // [shipdate, shipdate + linenumber%14 days] (the synthetic
    // receipt-date derivation — this lineitem has no receiptdate);
    // merge overlaps per order, report transit coverage — one keyed
    // exchange, two windows over one sort, integer day math ──
    QuerySpec("q108_span_merge", (s, dir) => {
      val iv = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate").cast("date").as("ship"),
          col("l_linenumber"))
        .select(col("l_orderkey"), col("ship"),
          date_add(col("ship"), pmod(col("l_linenumber"), lit(14))).as("receipt"))
      graft.operators.Intervals.coalesceIntervals(iv, "l_orderkey", "ship", "receipt")
        .groupBy("l_orderkey")
        .agg(sum(col("n_merged")).as("n_intervals"),
          count(lit(1)).as("n_spans"),
          sum(datediff(col("span_end"), col("span_start")) + 1).as("covered_days"))
    },
      // The same sweep: running max of end over strictly-preceding rows,
      // open-flag cumulative sum = span id. (start, end) ties need no
      // tiebreak (see Intervals scaladoc); all outputs are integer
      // arithmetic — sums cast to BIGINT against DuckDB's HUGEINT.
      """WITH iv AS (
        |  SELECT l_orderkey AS k, CAST(l_shipdate AS DATE) AS s,
        |    CAST(l_shipdate AS DATE) + (l_linenumber % 14) AS e
        |  FROM lineitem WHERE l_shipdate IS NOT NULL),
        |f AS (
        |  SELECT k, s, e,
        |    CASE WHEN max(e) OVER pre IS NULL OR s > max(e) OVER pre
        |      THEN 1 ELSE 0 END AS flag
        |  FROM iv WINDOW pre AS (PARTITION BY k ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |g AS (
        |  SELECT k, s, e,
        |    sum(flag) OVER (PARTITION BY k ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span
        |  FROM f),
        |sp AS (
        |  SELECT k, span, min(s) AS ss, max(e) AS se, count(*) AS n
        |  FROM g GROUP BY 1, 2)
        |SELECT k AS l_orderkey, CAST(sum(n) AS BIGINT) AS n_intervals,
        |  count(*) AS n_spans,
        |  CAST(sum(date_diff('day', ss, se) + 1) AS BIGINT) AS covered_days
        |FROM sp GROUP BY 1""".stripMargin),

    // ── compaction planning: pack each month's daily event shards
    // into ~64 KB merge groups by running byte offset — metadata-grain
    // window per partition directory, integer arithmetic only ──
    QuerySpec("q109_compaction_plan", (s, dir) => {
      val shards = t(s, dir, "events")
        .groupBy(monthKey(col("ts")).as("month"), dayKey(col("ts")).as("day"))
        .agg((sum(octet_length(col("props")).cast("long"))
          + count(lit(1)) * lit(32L)).as("bytes"))
      graft.operators.Layout.compactionPlan(
        shards, "month", "day", "bytes", targetBytes = 64L * 1024)
    },
      // bin = exclusive-running-sum div target — all-integer window
      // math; BIGINT casts defuse DuckDB's HUGEINT window/group sums.
      """WITH sh AS (
        |  SELECT strftime(ts, '%Y-%m') AS month, strftime(ts, '%Y-%m-%d') AS day,
        |    CAST(sum(strlen(props)) + count(*) * 32 AS BIGINT) AS bytes
        |  FROM events GROUP BY 1, 2),
        |o AS (
        |  SELECT month, day, bytes,
        |    CAST(coalesce(sum(bytes) OVER (PARTITION BY month ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM sh)
        |SELECT month, off // 65536 AS bin, count(*) AS n_shards,
        |  CAST(sum(bytes) AS BIGINT) AS bin_bytes,
        |  min(day) AS first_shard, max(day) AS last_shard
        |FROM o GROUP BY 1, 2""".stripMargin),

    // ── fixed-point integer PageRank, 3 iterations, on a synthetic
    // 40-node link graph derived from orders — bit-identical on any
    // partitioning/engine because every step is BIGINT arithmetic ──
    QuerySpec("q110_pagerank", (s, dir) => {
      val edges = t(s, dir, "orders")
        .select((col("o_custkey") % 40).as("src"), (col("o_orderkey") % 40).as("dst"))
        .filter(col("src") =!= col("dst"))
      graft.operators.PageRank.pageRank(edges, "src", "dst", iterations = 3)
    },
      // Three unrolled integer-arithmetic iterations: rank // outdeg
      // summed per dst (CAST from DuckDB's HUGEINT), ·85 // 100 damped,
      // teleport ((U·15)//100)//n — every op BIGINT, so the oracle is
      // bit-exact against the Spark loop.
      """WITH e AS (
        |  SELECT DISTINCT o_custkey % 40 AS src, o_orderkey % 40 AS dst
        |  FROM orders WHERE o_custkey % 40 <> o_orderkey % 40),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        |r0 AS (SELECT node, 1000000000000 // n AS rank FROM nodes CROSS JOIN nn),
        |m1 AS (SELECT e.dst, CAST(sum(r0.rank // od.outdeg) AS BIGINT) AS m
        |       FROM e JOIN od USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
        |r1 AS (SELECT node,
        |         ((1000000000000 * 15) // 100) // n + (coalesce(m, 0) * 85) // 100 AS rank
        |       FROM nodes CROSS JOIN nn LEFT JOIN m1 ON m1.dst = node),
        |m2 AS (SELECT e.dst, CAST(sum(r1.rank // od.outdeg) AS BIGINT) AS m
        |       FROM e JOIN od USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
        |r2 AS (SELECT node,
        |         ((1000000000000 * 15) // 100) // n + (coalesce(m, 0) * 85) // 100 AS rank
        |       FROM nodes CROSS JOIN nn LEFT JOIN m2 ON m2.dst = node),
        |m3 AS (SELECT e.dst, CAST(sum(r2.rank // od.outdeg) AS BIGINT) AS m
        |       FROM e JOIN od USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
        |r3 AS (SELECT node,
        |         ((1000000000000 * 15) // 100) // n + (coalesce(m, 0) * 85) // 100 AS rank
        |       FROM nodes CROSS JOIN nn LEFT JOIN m3 ON m3.dst = node)
        |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3""".stripMargin),

    // ── order-independent table digest: 2 word sums + count — "are
    // these two tables equal" as a 3-number compare, mergeable by
    // addition across shards ──
    QuerySpec("q126_table_checksum", (s, dir) =>
      graft.operators.Diff.tableChecksum(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_returnflag")),
      // chr(1)/chr(2) mirror rowFingerprint's delimiters; '0x'||hex ->
      // BIGINT mirrors conv(_,16,10); sums cast to defuse HUGEINT.
      """WITH f AS (
        |  SELECT md5(concat_ws(chr(1),
        |    coalesce(CAST(l_orderkey AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_partkey AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_suppkey AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_linenumber AS VARCHAR), chr(2)),
        |    coalesce(CAST(l_returnflag AS VARCHAR), chr(2)))) AS fp
        |  FROM lineitem)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(('0x' || substr(fp, 1, 8)) AS BIGINT)) AS BIGINT) AS sum_a,
        |  CAST(sum(CAST(('0x' || substr(fp, 17, 8)) AS BIGINT)) AS BIGINT) AS sum_b
        |FROM f""".stripMargin),

    // ── z-curve tile summary: the oracle-certifiable half of z-order
    // clustering — all-integer equi-width buckets, Morton interleave
    // (pure shift/or bit math), per-tile count + z-range ──
    QuerySpec("q129_zorder_tiles", (s, dir) =>
      graft.operators.Layout.zTileSummary(
        t(s, dir, "lineitem"), "l_partkey", "l_suppkey",
        bits = 8, tileShift = 10),
      // All-integer z-curve: equi-width bucket by integer div, Morton
      // interleave by shift/and — bit-identical in both engines. `//` is
      // DuckDB's integer division (Spark side uses `div`).
      s"""WITH mm AS (
        |  SELECT CAST(min(l_partkey) AS BIGINT) AS amin,
        |    CAST(max(l_partkey) AS BIGINT) AS amax,
        |    CAST(min(l_suppkey) AS BIGINT) AS bmin,
        |    CAST(max(l_suppkey) AS BIGINT) AS bmax
        |  FROM lineitem),
        |b AS (
        |  SELECT
        |    CASE WHEN amax > amin
        |      THEN ((l_partkey - amin) * 255) // (amax - amin) ELSE 0 END AS ba,
        |    CASE WHEN bmax > bmin
        |      THEN ((l_suppkey - bmin) * 255) // (bmax - bmin) ELSE 0 END AS bb
        |  FROM lineitem CROSS JOIN mm
        |  WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL),
        |z AS (SELECT CAST(${mortonSql("ba", "bb", 8)} AS BIGINT) AS z FROM b)
        |SELECT z >> 10 AS tile, count(*) AS n,
        |  min(z) AS z_min, max(z) AS z_max
        |FROM z GROUP BY 1""".stripMargin),

    // ── 2-D Pareto frontier via the sort-based rewrite (hash agg +
    // frontier-sized running-max window) — certified against DuckDB's
    // quadratic NOT EXISTS formulation as independent truth ──
    QuerySpec("q137_skyline", (s, dir) =>
      graft.operators.Skyline.frontier2d(t(s, dir, "lineitem"),
        expr("CAST(l_quantity AS BIGINT)"), col("l_extendedprice")),
      // INDEPENDENT truth: the quadratic NOT EXISTS dominance test over
      // the per-x aggregate — a different algorithm than the engine's
      // sort-based rewrite, same frontier.
      """WITH g AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS x, max(l_extendedprice) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |  GROUP BY 1)
        |SELECT x, y FROM g p
        |WHERE NOT EXISTS (SELECT 1 FROM g q
        |  WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))""".stripMargin),

    // ── concurrency sweep as a DISTRIBUTED prefix sum (per-day keyed
    // running sums + a day-grain carry window — never a global sort of
    // the boundaries): max concurrent 30-min sessions per day ──
    QuerySpec("q142_concurrency", (s, dir) => {
      val spans = graft.operators.Sessionize.sessionSpansUs(
        t(s, dir, "events"), "user_id", "ts", gapMinutes = 30)
      graft.operators.Intervals.concurrency(spans,
          col("start_us"), col("end_us"), bucketUsDiv = 86400000000L)
        .groupBy(col("bucket").as("day_idx"))
        .agg(max(col("conc")).as("max_concurrent"))
    },
      // The oracle runs the textbook GLOBAL sweep (single window over all
      // boundaries); the engine's day-partitioned prefix sum must agree
      // at every point. Inclusive ends: −1 lands at end_us + 1.
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
        |  SELECT min(epoch_us(ts)) AS su, max(epoch_us(ts)) AS eu
        |  FROM s GROUP BY user_id, sid),
        |b AS (
        |  SELECT su AS ts_us, 1 AS dd FROM sp
        |  UNION ALL SELECT eu + 1, -1 FROM sp),
        |g AS (SELECT ts_us, CAST(sum(dd) AS BIGINT) AS delta FROM b GROUP BY 1),
        |r AS (SELECT ts_us, CAST(sum(delta) OVER (ORDER BY ts_us
        |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc FROM g)
        |SELECT ts_us // 86400000000 AS day_idx, max(conc) AS max_concurrent
        |FROM r GROUP BY 1""".stripMargin),

    // ── root+depth over a parent-pointer forest by POINTER DOUBLING
    // (O(log depth) self-joins, the ConnectedComponents discipline) —
    // synthetic 7-root forest: parent(n) = n − 7, chains ~70 deep,
    // resolved in 7 rounds where a naive walk needs 70 ──
    QuerySpec("q158_tree_paths", (s, dir) =>
      graft.operators.TreePaths.rootAndDepth(
        t(s, dir, "documents").select(col("doc_id").as("node"),
          when(col("doc_id") < 7, col("doc_id"))
            .otherwise(col("doc_id") - 7).as("parent"))),
      // Independent truth by naive recursion — the engine's log-round
      // doubling must produce the identical forest resolution.
      """WITH RECURSIVE up AS (
        |  SELECT doc_id AS node, doc_id AS cur, CAST(0 AS BIGINT) AS depth
        |  FROM documents
        |  UNION ALL
        |  SELECT node, cur - 7, depth + 1 FROM up WHERE cur >= 7)
        |SELECT node, cur AS root, depth FROM up WHERE cur < 7""".stripMargin),

    // ── gaps-and-islands, the gap half: per user, the quiet span
    // before each session (sessions are disjoint ⇒ start_us is a
    // total within-user order) ──
    QuerySpec("q159_session_gaps", (s, dir) => {
      val spans = graft.operators.Sessionize.sessionSpansUs(
        t(s, dir, "events"), "user_id", "ts", gapMinutes = 30)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("start_us")
      spans.withColumn("__prev_end", lag(col("end_us"), 1).over(w))
        .filter(col("__prev_end").isNotNull)
        .select(col("user_id"), col("start_us"),
          expr("(start_us - __prev_end) div 1000").as("gap_ms"))
    },
      // The q43 session CTE; gap = this session's start minus the
      // previous session's end, per user.
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
        |  SELECT user_id, min(epoch_us(ts)) AS su, max(epoch_us(ts)) AS eu
        |  FROM s GROUP BY user_id, sid),
        |g AS (
        |  SELECT user_id, su AS start_us,
        |    (su - lag(eu) OVER (PARTITION BY user_id ORDER BY su)) // 1000
        |      AS gap_ms
        |  FROM sp)
        |SELECT user_id, start_us, gap_ms FROM g
        |WHERE gap_ms IS NOT NULL""".stripMargin)
  )
}
