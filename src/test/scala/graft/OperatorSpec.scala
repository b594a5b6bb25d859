package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{GroupShare, TopK}

/** W1 dense_rank tie semantics; J3/J4 join-back ≡ window property. */
class OperatorSpec extends SparkSpec {
  import spark.implicits._

  test("W1: dense_rank lets more than K rows survive a boundary tie") {
    // 12 items; counts 12, 11, then ten items tied at 10 -> with k=2 the
    // tie at position 2... use: one at 12, eleven tied at 10, k=2:
    // position 1 (count 12) + eleven rows at position 2 = 12 rows out.
    val rows = ("a", 12L) +: (1 to 11).map(i => (s"t$i", 10L))
    val df = rows.toDF("item", "cnt")
    val out = TopK.denseTopK(df.withColumn("g", lit(1)), Seq("g"), $"cnt".desc, 2)
    assert(out.count() == 12)
    assert(out.filter($"position" === 2).count() == 11)
  }

  test("W1: distinct positions are dense (no gaps after ties)") {
    val df = Seq(("x", 5L), ("y", 5L), ("z", 3L)).toDF("item", "cnt")
    val out = TopK.denseTopK(df.withColumn("g", lit(1)), Seq("g"), $"cnt".desc, 10)
      .select("item", "position").as[(String, Long)].collect().toMap
    assert(out("x") == 1 && out("y") == 1 && out("z") == 2)
  }

  test("J3/J4 property: join-back share == window share on random groups") {
    val genRows = Gen.listOfN(60, for {
      g <- Gen.choose(1, 4)
      z <- Gen.choose(1, 3)
      v <- Gen.choose(1, 1000)
    } yield (s"g$g", s"z$z", v.toLong))
    (0 until 10).foreach { i =>
      val rows = genRows.apply(Gen.Parameters.default, Seed(42L + i)).get
      val df = rows.toDF("g", "z", "v")
      val a = GroupShare.withSharePct(df, Seq("g", "z"), "v", "pct")
        .select("g", "z", "v", "pct")
      val b = GroupShare.withSharePctJoinBack(df, Seq("g", "z"), "v", "pct")
        .select("g", "z", "v", "pct")
      val diff = a.except(b).count() + b.except(a).count()
      assert(diff == 0, s"iteration $i: join-back != window")
    }
  }

  test("shares sum to ~100 within each partition") {
    val df = Seq(("m1", 10L), ("m1", 30L), ("m2", 5L), ("m2", 15L)).toDF("m", "v")
    val sums = GroupShare.withSharePct(df, Seq("m"), "v", "pct")
      .groupBy("m").agg(sum($"pct").as("s")).select("s").as[Double].collect()
    sums.foreach(s => assert(math.abs(s - 100.0) < 1e-9))
  }

  test("asofLeft: inclusive bound, per-key isolation, no-match nulls, atomic right-row carry") {
    import graft.operators.AsofJoin
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      ("A", ts("2024-01-01 10:00:00"), "l-early"),   // before any right row -> nulls
      ("A", ts("2024-01-01 12:00:00"), "l-mid"),     // between r1 and r2 -> r1
      ("A", ts("2024-01-01 13:00:00"), "l-tie"),     // EXACTLY r2's time -> r2 (inclusive)
      ("B", ts("2024-01-01 12:00:00"), "l-otherkey") // B's rows must not see A's
    ).toDF("k", "t", "l_val")
    val right = Seq(
      ("A", ts("2024-01-01 11:00:00"), Some("r1")),
      ("A", ts("2024-01-01 13:00:00"), Option.empty[String]), // null VALUE still a real match
      ("B", ts("2024-01-01 11:30:00"), Some("rB"))
    ).toDF("k", "rt", "r_val")

    val out = AsofJoin.asofLeft(left, right, "k", "t", "rt", Seq("r_val"))
      .select($"l_val", date_format($"asof_time", "HH:mm").as("at"), $"r_val")
      .as[(String, Option[String], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("l-early") == ((None, None)))
    assert(out("l-mid") == ((Some("11:00"), Some("r1"))))
    // the 13:00 right row matched (inclusive <=) and its null value rode
    // along atomically — NOT spliced with r1's non-null value
    assert(out("l-tie") == ((Some("13:00"), None)))
    assert(out("l-otherkey") == ((Some("11:30"), Some("rB"))))

    // structural guarantee: one keyed window, never a theta/nested-loop join
    val plan = AsofJoin.asofLeft(left, right, "k", "t", "rt", Seq("r_val"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    assert(plan.contains("Window"))
  }

  test("skyline frontier2d == brute-force NOT-EXISTS dominance on random points") {
    val gen = Gen.listOfN(300, Gen.zip(Gen.choose(0L, 20L), Gen.choose(0L, 20L)))
    val pts = gen(Gen.Parameters.default, Seed(42L)).get
    val df = pts.toDF("x", "y")
    val got = graft.operators.Skyline.frontier2d(df, col("x"), col("y"))
      .as[(Long, Long)].collect().toSet
    val want = {
      val g = pts.groupBy(_._1).map { case (x, ps) => (x, ps.map(_._2).max) }.toSet
      g.filter { case (px, py) => !g.exists { case (qx, qy) =>
        qx >= px && qy >= py && (qx > px || qy > py) } }
    }
    assert(got == want)
    // no quadratic join in the plan — the whole point of the rewrite
    val plan = graft.operators.Skyline.frontier2d(df, col("x"), col("y"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
  }

  test("skyline: duplicate y across x loses to the larger x; nulls excluded") {
    val df = Seq((Some(1L), Some(9L)), (Some(2L), Some(9L)), // (1,9) dominated by (2,9)
      (Some(3L), Some(1L)), (None, Some(99L)), (Some(9L), None)).toDF("x", "y")
    val got = graft.operators.Skyline.frontier2d(df, col("x"), col("y"))
      .as[(Long, Long)].collect().toSet
    assert(got == Set((2L, 9L), (3L, 1L)))
  }

  test("distDrift: identical shares -> zero numerator; planted shift -> exact cross-product") {
    // A: 6 xs + 2 ys (N=8); B: 3 xs + 1 y (N=4) — same 3:1 shares
    val same = (Seq.fill(6)(("x", false)) ++ Seq.fill(2)(("y", false)) ++
      Seq.fill(3)(("x", true)) ++ Seq.fill(1)(("y", true))).toDF("c", "b")
    val z = graft.operators.Profile.distDrift(same, col("c"), col("b"))
      .select("drift_num").as[Long].collect().toSet
    assert(z == Set(0L), "proportional cohorts must show zero drift")
    // A: 3 xs, 1 y (N=4); B: 1 x, 3 ys (N=4): x num = |3*4-1*4| = 8
    val shifted = (Seq.fill(3)(("x", false)) ++ Seq(("y", false)) ++
      Seq(("x", true)) ++ Seq.fill(3)(("y", true))).toDF("c", "b")
    val got = graft.operators.Profile.distDrift(shifted, col("c"), col("b"))
      .select("category", "drift_num").as[(String, Long)].collect().toMap
    assert(got == Map("x" -> 8L, "y" -> 8L))
  }

  test("corrMoments: perfect line -> corr 1.0 exactly; degenerate variance -> null") {
    val df = Seq(("k", 1L, 10L), ("k", 2L, 20L), ("k", 3L, 30L),
      ("flat", 1L, 5L), ("flat", 2L, 5L)).toDF("g", "x", "y")
    val got = graft.operators.Profile.corrMoments(df, "g", col("x"), col("y"))
      .select("g", "corr").as[(String, Option[Double])].collect().toMap
    // the final sqrt·sqrt rounds within an ulp of 1.0 (deterministically —
    // both engines compute the identical IEEE shape); the MOMENTS are exact
    assert(got("k").exists(c => math.abs(c - 1.0) < 1e-12),
      s"y = 10x must be corr 1.0 within an ulp, got ${got("k")}")
    assert(got("flat").isEmpty, "zero y-variance has no defined correlation")
  }

  test("topNWithOther: total tie order at the cut; OTHER carries tail weight and label count") {
    val counts = Seq(("a", 10L), ("b", 10L), ("c", 10L), ("d", 2L), ("e", 1L))
      .toDF("label", "w")
    val got = graft.operators.TopK.topNWithOther(counts, "label", "w", n = 2)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r).toMap
    // ties at w=10 cut by label: a, b kept; c falls into OTHER
    assert(got("a") == (("a", 10L, 1L)) && got("b") == (("b", 10L, 1L)))
    assert(got("OTHER") == (("OTHER", 13L, 3L)), s"got ${got.get("OTHER")}")
    assert(got.size == 3)
  }

  test("rollupShares: ppm within parent; leaf shares sum to 1e6 per parent (up to div truncation)") {
    val df = Seq(
      ("r1", "n1", 60L), ("r1", "n2", 40L), ("r2", "n3", 100L)).toDF("r", "n", "v")
    val out = GroupShare.rollupShares(df, Seq("r", "n"), col("v"))
    val rows = out.select("r", "n", "sum_l2", "sum_l1", "sum_l0",
        "ppm_l1_of_l0", "ppm_l2_of_l1")
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSet
    assert(rows == Set(
      ("r1", "n1", 60L, 100L, 200L, 500000L, 600000L),
      ("r1", "n2", 40L, 100L, 200L, 500000L, 400000L),
      ("r2", "n3", 100L, 100L, 200L, 500000L, 1000000L)))
  }

  test("fsck: healthy manifest store is clean; each planted state " +
      "classifies; findings are root-relative") {
    import java.nio.file.Files
    import graft.operators.VersionedStore
    val base = Files.createTempDirectory("fsck_spec")
    val root = base.resolve("st")
    Files.createDirectories(root.resolve("index"))
    Files.createDirectories(root.resolve("_manifest"))
    // healthy committed version: dir + manifest
    Files.createDirectories(root.resolve("v000000007"))
    Files.write(root.resolve("_manifest").resolve("v000000007.json"),
      "{}".getBytes("UTF-8"))
    assert(VersionedStore(root.toString).fsck(spark).count() == 0)
    // plant one of each
    Files.createDirectories(root.resolve("v000000009"))
    Files.write(root.resolve("_manifest").resolve("v000000011.json"),
      "{}".getBytes("UTF-8"))
    Files.createDirectories(base.resolve("st.swap-xx"))
    Files.createDirectories(base.resolve("st.trash-yy"))
    val got = VersionedStore(root.toString).fsck(spark)
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("dangling_manifest", "v000000011", "corrupt"),
      ("orphan_version", "v000000009", "debris"),
      ("stale_staging", "st.swap-xx", "debris"),
      ("stale_staging", "st.trash-yy", "debris")))
    // an unrelated sibling (no store prefix) is NOT flagged
    Files.createDirectories(base.resolve("other.swap-zz"))
    assert(VersionedStore(root.toString).fsck(spark).count() == 4)
    // a root with NO parent (bare relative name) must not NPE on the
    // sibling scan — the stale-staging check is skipped (round-17 fix)
    assert(VersionedStore("graft_fsck_no_such_store").fsck(spark).count() == 0)
  }

  test("fsckRepair: debris deleted with an audit trail, corruption " +
      "refused, repair is idempotent") {
    import java.nio.file.Files
    import graft.operators.VersionedStore
    val base = Files.createTempDirectory("fsckr_spec")
    val root = base.resolve("st")
    Files.createDirectories(root.resolve("_manifest"))
    Files.createDirectories(root.resolve("v000000009"))          // orphan
    Files.write(root.resolve("_manifest").resolve("v000000011.json"),
      "{}".getBytes("UTF-8"))                                    // dangling
    Files.createDirectories(base.resolve("st.swap-xx"))          // stale
    val trail = VersionedStore(root.toString).fsckRepair(spark)
      .as[(String, String, String, String)].collect().toSet
    assert(trail == Set(
      ("dangling_manifest", "v000000011", "corrupt", "kept"),
      ("orphan_version", "v000000009", "debris", "deleted"),
      ("stale_staging", "st.swap-xx", "debris", "deleted")))
    // debris really gone, corruption really kept
    assert(!Files.exists(root.resolve("v000000009")))
    assert(!Files.exists(base.resolve("st.swap-xx")))
    assert(Files.exists(root.resolve("_manifest").resolve("v000000011.json")))
    // idempotent: a second repair finds only the refused corruption
    val again = VersionedStore(root.toString).fsckRepair(spark)
      .as[(String, String, String, String)].collect().toSet
    assert(again == Set(
      ("dangling_manifest", "v000000011", "corrupt", "kept")))
  }

  test("fsck: a killed stage's in-root staging dir and a killed compaction's " +
      "sibling are stale_staging debris, and fsckRepair deletes them") {
    import java.nio.file.Files
    import graft.operators.VersionedStore
    val base = Files.createTempDirectory("fsck_staging_spec")
    val root = base.resolve("st")
    val store = VersionedStore(root.toString)
    store.commit(1L)(dir => Files.createDirectories(root.resolve(dir)): Unit)
    assert(store.committed == Seq(1L) && store.fsck(spark).count() == 0)
    // a writer killed inside stage(2): its staging dir sits in the root
    Files.createDirectories(root.resolve(".staging-v2-0badf00d").resolve("part-0"))
    // a compaction killed before its swap: the replacement is a sibling
    Files.createDirectories(base.resolve("st.compact-5ca1ab1e").resolve("index"))
    // a publish killed before its rename: the manifest temp file
    Files.write(root.resolve("_manifest").resolve(".tmp-deadbeef"), "{}".getBytes("UTF-8"))
    val got = store.fsck(spark).as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("stale_staging", ".staging-v2-0badf00d", "debris"),
      ("stale_staging", "st.compact-5ca1ab1e", "debris"),
      ("stale_staging", "_manifest/.tmp-deadbeef", "debris")))
    val trail = store.fsckRepair(spark)
      .as[(String, String, String, String)].collect().toSet
    assert(trail == got.map { case (c, e, sev) => (c, e, sev, "deleted") })
    assert(!Files.exists(root.resolve(".staging-v2-0badf00d")))
    assert(!Files.exists(base.resolve("st.compact-5ca1ab1e")))
    assert(!Files.exists(root.resolve("_manifest").resolve(".tmp-deadbeef")))
    // the committed version is untouched
    assert(store.fsck(spark).count() == 0 && Files.isDirectory(root.resolve("v000000001")))
  }

  test("swapTree: a write that throws leaves no replacement tree and the old tree live") {
    import java.nio.file.Files
    import graft.operators.VersionedStore
    val base = Files.createTempDirectory("swap_spec")
    val root = base.resolve("idx")
    Files.createDirectories(root.resolve("sets"))
    val boom = intercept[IllegalStateException] {
      VersionedStore.swapTree(spark, root.toString) { staging =>
        Files.createDirectories(java.nio.file.Paths.get(staging, "sets"))
        throw new IllegalStateException("write failed")
      }
    }
    assert(boom.getMessage == "write failed")
    val left = Option(base.toFile.list()).toSeq.flatten.toSet
    assert(left == Set("idx"), s"swap debris left beside the tree: $left")
    assert(Files.isDirectory(root.resolve("sets")), "the old tree must stay live")
    assert(VersionedStore(root.toString).fsck(spark).count() == 0)
  }
}
