package graft

import org.apache.spark.sql.functions._

import graft.ext.{ConnectedComponents, Dedup}

/** Connected-components specs: star-contraction result vs a local
  * union-find ground truth on adversarial topologies, the
  * O(log n)-round claim on a long path, and the dedup-cluster closure
  * (singletons, representatives, sizes).
  */
class CcSpec extends SparkSpec {
  import spark.implicits._

  /** Local union-find ground truth (path compression + union by id:
    * root is always the smaller id, matching the operator's contract).
    */
  private def unionFind(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    nodes.map(n => n -> find(n)).toMap
  }

  private def ccMap(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents
      .connectedComponents(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  test("two triangles and a bridge collapse to one component; separate pair stays separate") {
    val edges = Seq[(Long, Long)]((1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10),
      (3, 10), (50, 60))
    val got = ccMap(edges)
    val want = unionFind(edges.flatMap(e => Seq(e._1, e._2)).distinct, edges)
    assert(got == want)
    assert(got(12) == 1L && got(60) == 50L)
  }

  test("long path (diameter stress): 300-node chain resolves to min root") {
    val edges = (1L until 300L).map(i => (i, i + 1))
    val got = ccMap(edges)
    assert(got.size == 300 && got.values.forall(_ == 1L))
  }

  test("random graph == union-find ground truth (fixed seed)") {
    val rnd = new scala.util.Random(7)
    val nodes = (0L until 200L)
    val edges = Seq.fill(150)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    val got = ccMap(edges)
    val want = unionFind(edges.flatMap(e => Seq(e._1, e._2)).distinct, edges)
    assert(got == want)
  }

  test("edge hygiene: self-loops, duplicates, reversed duplicates, nulls") {
    val edges = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 1L), (1L, 1L), (1L, 2L), (2L, 3L), (null, 4L), (5L, null))
      .toDF("a", "b")
    val got = ConnectedComponents.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("dedupClusters: singleton closure, sizes, representatives") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq[(Long, Long)]((2, 4), (4, 5)).toDF("doc_a", "doc_b")
    val out = ConnectedComponents.dedupClusters(docs, "doc_id", pairs, "doc_a", "doc_b")
      .select("doc_id", "cluster", "cluster_size", "is_representative")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(out == Set(
      (1L, 1L, 1L, true), (3L, 3L, 1L, true),
      (2L, 2L, 3L, true), (4L, 2L, 3L, false), (5L, 2L, 3L, false)))
  }

  test("end-to-end: minhash pairs -> clusters over sf0.001 documents; edges stay intra-cluster") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val pairs = Dedup.nearDupPairsMinhash(docs, "doc_id", "text", threshold = 0.8)
    val clusters = ConnectedComponents.dedupClusters(docs, "doc_id", pairs, "doc_a", "doc_b")
    // every doc assigned exactly once
    assert(clusters.count() == docs.count())
    assert(clusters.select("doc_id").distinct().count() == docs.count())
    // both endpoints of every pair share a cluster
    val lab = clusters.select(col("doc_id"), col("cluster"))
    val crossCluster = pairs
      .join(lab.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("cluster", "ca"), "doc_a")
      .join(lab.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("cluster", "cb"), "doc_b")
      .filter(col("ca") =!= col("cb"))
    assert(crossCluster.isEmpty)
    // representatives: exactly one per cluster, and it's the min doc_id
    val reps = clusters.filter(col("is_representative"))
    assert(reps.count() == clusters.select("cluster").distinct().count())
    assert(reps.filter(col("doc_id") =!= col("cluster")).isEmpty)
  }

  test("incrementalClusters: batch fold == full recompute; untouched clusters byte-stable") {
    // old graph: cluster {1,2,3} (rep 1), cluster {10,11} (rep 10),
    // untouched cluster {20,21,22} (rep 20), singletons 30, 31
    val oldIds = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 22L, 30L, 31L)
    val oldPairs = Seq[(Long, Long)]((1, 2), (2, 3), (10, 11), (20, 21), (21, 22))
    val oldAssign = ConnectedComponents.dedupClusters(
      oldIds.toDF("doc_id"), "doc_id", oldPairs.toDF("a", "b"), "a", "b")
    // batch: 40 bridges clusters {1..} and {10..} (a MERGE of two old
    // clusters), 41 pairs with singleton 30, 42-43 form a new batch-
    // internal pair, 44 is a batch singleton
    val batch = Seq(40L, 41L, 42L, 43L, 44L).toDF("doc_id")
    val cross = Seq[(Long, Long)]((40, 2), (40, 11), (41, 30)).toDF("nb", "no")
    val bp = Seq[(Long, Long)]((42, 43)).toDF("a", "b")
    val got = ConnectedComponents.incrementalClusters(
        oldAssign, "doc_id", batch, cross, "nb", "no", bp, "a", "b")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    // ground truth: full recompute over the union graph
    val allIds = oldIds ++ Seq(40L, 41L, 42L, 43L, 44L)
    val allEdges = oldPairs ++ Seq[(Long, Long)]((40, 2), (40, 11), (41, 30), (42, 43))
    val uf = unionFind(allIds, allEdges)
    val sizes = uf.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
    val want = allIds.map(n =>
      (n, uf(n), sizes(uf(n)), n == uf(n))).toSet
    assert(got == want)
    // the merge relabeled {10,11} into cluster 1 and the untouched
    // cluster kept its rows exactly
    assert(got.contains((10L, 1L, 6L, false)))
    assert(got.contains((20L, 20L, 3L, true)))
  }

  test("incrementalClusters with auto-broadcast off: no broadcast join, same clusters") {
    val oldAssign = ConnectedComponents.dedupClusters(
      Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id"), "doc_id",
      Seq[(Long, Long)]((1, 2), (2, 3), (10, 11)).toDF("a", "b"), "a", "b")
    def fold() = ConnectedComponents.incrementalClusters(
      oldAssign, "doc_id", Seq(40L, 41L, 42L).toDF("doc_id"),
      Seq[(Long, Long)]((40, 2), (40, 11)).toDF("nb", "no"), "nb", "no",
      Seq[(Long, Long)]((41, 42)).toDF("a", "b"), "a", "b")
    val want = fold().as[(Long, Long, Long, Boolean)].collect().toSet
    // a batch too big to broadcast: every join must fall back to a
    // shuffle join instead of forcing a broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = fold()
      val got = df.as[(Long, Long, Long, Boolean)].collect().toSet
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastNestedLoopJoin"),
        s"a broadcast join with auto-broadcast off:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"the fold planned no join:\n$plan")
      assert(got == want)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(want.contains((11L, 1L, 6L, false)) && want.contains((20L, 20L, 1L, true)))
  }

  test("TreePaths: deep chain + flat star resolve exactly; cycle throws") {
    import spark.implicits._
    // one 200-deep chain rooted at 0 (parent = n-1) + a 3-leaf star at 1000
    val edges = ((0L to 200L).map(n => (n, math.max(0L, n - 1))) ++
      Seq((1000L, 1000L), (1001L, 1000L), (1002L, 1000L), (1003L, 1000L)))
      .toDF("node", "parent")
    val got = graft.operators.TreePaths.rootAndDepth(edges.repartition(7))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(200L) == ((0L, 200L)) && got(1L) == ((0L, 1L)) && got(0L) == ((0L, 0L)))
    assert(got(1003L) == ((1000L, 1L)) && got(1000L) == ((1000L, 0L)))
    assert(got.size == 205)
    // a 2-cycle never converges: the doubling loop must throw, not spin
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("node", "parent")
    intercept[IllegalStateException] {
      graft.operators.TreePaths.rootAndDepth(cyc, maxRounds = 8)
    }
    // a dangling parent pointer (parent id absent from the node set)
    // must fail LOUDLY up front — the inner jump join would otherwise
    // silently drop the node and its subtree (round-7 advisory)
    val dangling = Seq((1L, 1L), (2L, 1L), (3L, 99L)).toDF("node", "parent")
    val e = intercept[IllegalArgumentException] {
      graft.operators.TreePaths.rootAndDepth(dangling)
    }
    assert(e.getMessage.contains("99"), s"error should name the dangling id: ${e.getMessage}")
  }
}
