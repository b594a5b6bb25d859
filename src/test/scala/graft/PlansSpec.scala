package graft

import org.apache.spark.sql.functions._

import graft.ext.SimSearch
import graft.plans.CosineSimilarity

/** Custom codegen'd expression: bit-identical to the composed-builtin
  * fold formulation, SQL-callable through the session's GraftExtensions.
  */
class PlansSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")

  test("cosine_sim is bit-identical to the zip_with/aggregate fold recipe") {
    val pairs = emb.as("a").join(emb.as("b"), $"a.vec_id" < $"b.vec_id" && $"b.vec_id" < 20)
    val both = pairs.select(
      call_function("cosine_sim", $"a.embedding", $"b.embedding").as("native"),
      SimSearch.cosine(
        SimSearch.dotD($"a.embedding", $"b.embedding"),
        SimSearch.norm2($"a.embedding"), SimSearch.norm2($"b.embedding")).as("folded"))
    // exact bit equality, not approximate
    assert(both.filter($"native" =!= $"folded").count() == 0)
    assert(both.count() > 0)
  }

  test("cosine_sim is SQL-callable and null-safe") {
    emb.limit(5).createOrReplaceTempView("emb_t")
    val viaSql = spark.sql(
      "SELECT cosine_sim(embedding, embedding) AS c FROM emb_t").as[Double].collect()
    viaSql.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
    val nulls = spark.sql(
      "SELECT cosine_sim(CAST(NULL AS ARRAY<FLOAT>), CAST(NULL AS ARRAY<FLOAT>)) AS c").collect()
    assert(nulls.head.isNullAt(0))
  }

  test("LSH near-dup physical plan (forced bucketed path) has no nested-loop or cartesian join") {
    // the declared q32 auto-selects the exact plan below 2^16 rows; the
    // structural no-cartesian guarantee is a property of the bucketed
    // path, so force it with exactMaxRows = 0
    val plan = SimSearch.nearDupPairsCosineLsh(emb, "vec_id", "embedding", 0.45, 64,
        exactMaxRows = 0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "corpus side must never be nested-looped")
    assert(!plan.contains("CartesianProduct"), "corpus side must never be cross-joined")
    // same structural guarantee for the bucketed top-k search paths
    for (q <- Seq("q41_sim_topk_lsh", "q42_sim_topk_ivf")) {
      val p = SparkEntry.queries(q)(spark, sf0001).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q must not cross-join the corpus")
      // (q42's bounded nlist-row anchor broadcast is a legitimate
      // BroadcastNestedLoopJoin; the corpus-sized sides join on keys)
    }
    assert(!SparkEntry.queries("q41_sim_topk_lsh")(spark, sf0001)
      .queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    // and the truth generator (all-pairs) IS the nested-loop shape, so
    // the assertion above is not vacuous:
    val truth = SimSearch.nearDupPairsCosine(emb, "vec_id", "embedding", 0.45)
      .queryExecution.executedPlan.toString
    assert(truth.contains("BroadcastNestedLoopJoin") || truth.contains("CartesianProduct"))
  }

  test("exact-vs-LSH switch is driven by catalyst stats, not a count job") {
    // file-backed relation: no rowCount in stats, so the estimate is
    // sizeInBytes×4 / (4*dim + 16) — conservatively ABOVE the true
    // count (the 4× guard covers dictionary-encoded duplicate-heavy
    // corpora; an under-estimate would gate an O(n²) plan)
    val n = emb.count()
    val est = SimSearch.estimatedRows(emb, 4L * 64 + 16)
    assert(est >= n && est <= 12 * n, s"file-stats estimate $est vs true $n")

    // in-memory relation: LocalRelation carries an exact rowCount
    val local = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("id", "v")
    assert(SimSearch.estimatedRows(local, 4L * 2 + 16) == 2L)

    // Same data, both plans — chosen from stats alone. Default
    // threshold (2^16): tiny corpus ⇒ exact all-pairs shape. Threshold
    // below the estimate ⇒ bucketed LSH shape. Neither call may run a
    // pre-count scan (nothing here triggers an action).
    val exact = SimSearch.nearDupPairsCosineLsh(emb, "vec_id", "embedding", 0.45, 64)
      .queryExecution.executedPlan.toString
    assert(exact.contains("BroadcastNestedLoopJoin") || exact.contains("CartesianProduct"),
      "small corpus should pick the exact all-pairs plan")
    val lsh = SimSearch.nearDupPairsCosineLsh(emb, "vec_id", "embedding", 0.45, 64,
        exactMaxRows = 10)
      .queryExecution.executedPlan.toString
    assert(!lsh.contains("BroadcastNestedLoopJoin") && !lsh.contains("CartesianProduct"),
      "over-threshold estimate should pick the bucketed LSH plan")

    // Belt-and-braces byte cap: even when the ROW estimate is under the
    // limit (here it is exact — LocalRelation carries rowCount=2), the
    // exact plan is refused if sizeInBytes exceeds maxRows×bytesPerRow.
    // This is the guard against >4× compression under-counting rows:
    // no compression ratio can route a large relation onto the O(n²)
    // plan, because the RAW byte size is checked too.
    assert(SimSearch.fitsExactPlan(local, 4L * 2 + 16, 65536),
      "tiny relation passes both the row and byte gates")
    assert(!SimSearch.fitsExactPlan(local, bytesPerRow = 1, maxRows = 2),
      "row estimate within limit but byte size over maxRows×bytesPerRow must refuse the exact plan")
  }

  test("round-7 shapes keep their bounded pre-shuffle passes") {
    def plan(q: String) =
      SparkEntry.queries(q)(spark, sf0001).queryExecution.executedPlan.toString
    // CDC compaction: Spark 4 plans row_number<=1 as WindowGroupLimit
    // with a PARTIAL pass — at most one row per key reaches the shuffle.
    // If this regresses (e.g. the filter stops matching the rank
    // pattern), compaction silently becomes a full per-key sort.
    val cdc = plan("q94_cdc")
    assert(cdc.contains("WindowGroupLimit") && cdc.contains("Partial"),
      s"compaction lost its partial group limit:\n$cdc")
    // exact-N sampling rides the same partial limit
    val sn = plan("q100_sample_n")
    assert(sn.contains("WindowGroupLimit") && sn.contains("Partial"),
      s"sampleExactN lost its partial group limit:\n$sn")
    // bounded top-k aggregator must keep map-side partial aggregation
    val tk = plan("q96_topk_agg")
    assert(tk.contains("partial_topkbyscore"),
      s"TopKByScore lost its partial aggregation:\n$tk")
  }

  // ── catalog-wide global-exchange sweep (round-7 audit item #3) ──
  // The invariant behind every "window over the aggregated frame only"
  // comment in the catalog (TopK.topNWithOther, Histogram bounds,
  // decile lift, …): a SinglePartition shuffle may only ever carry
  // AGGREGATE-GRAIN or LIMITED rows, never raw corpus rows. Structural
  // check: every ShuffleExchange(SinglePartition) in every batch query
  // plan must have an aggregate / group-limit / limit somewhere below
  // it. String-matching can't express "below", so this walks the tree.
  private def rowGrainSingles(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val boundedBelow = ".*(Aggregate|WindowGroupLimit|Limit|TakeOrdered).*"
    plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition &&
          !e.child.exists(_.getClass.getSimpleName.matches(boundedBelow)) =>
        e.child.getClass.getSimpleName
    }
  }

  test("catalog sweep: no batch query ships row-grain data through a SinglePartition exchange") {
    // streaming replays execute a full multi-trigger run just to build
    // the result frame; their plans are asserted in StreamingSpec
    val names = SparkEntry.queries.keys.toSeq.filterNot(_.contains("stream")).sorted
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // plain tree: collect() sees the real exchanges
    try {
      // negative control first — the detector must actually fire on the
      // misuse it guards against (topNWithOther over a raw frame):
      val raw = spark.read.parquet(s"$sf0001/lineitem.parquet")
        .select($"l_partkey".cast("string").as("lbl"), $"l_quantity".cast("long").as("w"))
      assert(rowGrainSingles(
        graft.operators.TopK.topNWithOther(raw, "lbl", "w", 5)
          .queryExecution.executedPlan).nonEmpty,
        "detector failed to flag a global window over a raw corpus frame")

      val offenders = names.flatMap { q =>
        rowGrainSingles(SparkEntry.queries(q)(spark, sf0001)
          .queryExecution.executedPlan).map(c => s"$q: SinglePartition over $c")
      }
      assert(offenders.isEmpty,
        s"row-grain SinglePartition exchanges in the catalog:\n${offenders.mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("q355/q356 end-to-end plans: no WindowExec partitioned by the " +
      "source/bucket column (the sizeSourcesToWeights fix can't " +
      "silently regress to a per-source window)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for ((q, srcCol) <- Seq("q355_sized_interleave_audit" -> "source",
          "q356_sized_curriculum_audit" -> "bucket")) {
        val bad = SparkEntry.queries(q)(spark, sf0001)
          .queryExecution.executedPlan.collect {
            case w: WindowExec if w.partitionSpec.exists(
                _.references.exists(_.name == srcCol)) =>
              w.partitionSpec.map(_.sql).mkString(",")
          }
        assert(bad.isEmpty,
          s"$q windows partitioned by $srcCol: ${bad.mkString("; ")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("minhash_sig expression path == explode/aggregate path, band row for band row") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val base = graft.ext.TextAnalysis.withShingleSet(
        docs.select($"doc_id".as("__id"), $"text".as("__text")), "__text", 3, "__sh")
      .select($"__id", $"__sh")
    val expr = graft.ext.Dedup.bandedOf(base, 128, 32)
    val agg = graft.ext.Dedup.bandedOfAgg(base, 128, 32)
    assert(expr.count() > 0)
    // bit equality in both directions — indexes built by either path
    // interoperate, and no band key moved
    assert(expr.exceptAll(agg).count() == 0)
    assert(agg.exceptAll(expr).count() == 0)
  }

  test("minhash_sig: interpreted eval == codegen; empty/null-element/null-input semantics") {
    val df = spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(1, Seq("a b c", "b c d")),
        org.apache.spark.sql.Row(2, Seq("a b c", null)),
        org.apache.spark.sql.Row(3, Seq.empty[String]),
        org.apache.spark.sql.Row(4, null)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("sh",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))))
    def run(): Map[Int, Seq[Long]] =
      df.select($"id", call_function("minhash_sig", $"sh", lit(8), lit(42L)).as("sig"))
        .collect()
        .map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1)))
        .toMap
    val codegen = run()
    val wholeStage = spark.conf.get("spark.sql.codegen.wholeStage")
    val factoryMode = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = run()
      assert(codegen == interpreted)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", factoryMode)
    }
    assert(codegen(1) != null && codegen(1).length == 8)
    assert(codegen(2) != null, "null elements are skipped, not fatal")
    // doc 2's mins come from its single non-null shingle, so every
    // component must also appear in doc 1's (superset) signature bound
    assert(codegen(2).zip(codegen(1)).forall { case (two, one) => two >= one })
    assert(codegen(3) == null, "empty set has no signature (matches the agg path's absent group)")
    assert(codegen(4) == null, "null input stays null")
    // the per-shingle hash matches the built-in xxhash64 bit for bit
    val one = spark.sql(
      "SELECT minhash_sig(array('zq'), 1, 42L)[0] AS m, pmod(xxhash64('zq'), 2147483647) AS x")
      .collect().head
    val (a0, b0) = graft.ext.Dedup.seedPairs(1).head
    assert(one.getLong(0) == java.lang.Math.floorMod(a0 * one.getLong(1) + b0, graft.ext.Dedup.P))
  }

  test("cosineSim and MinhashSignature.of plan without the function registry") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import graft.plans.{MinhashSignature, UnicodeTokens}
    val names = Seq(CosineSimilarity.fnName, MinhashSignature.fnName).map(FunctionIdentifier(_))
    // positive probe: the suite session's builder bound every SQL name
    (names :+ FunctionIdentifier(UnicodeTokens.fnName)).foreach(n =>
      assert(spark.sessionState.functionRegistry.functionExists(n), s"$n not bound"))
    val clone = spark.newSession()
    val reg = clone.sessionState.functionRegistry
    names.foreach(n => assert(reg.dropFunction(n), s"$n was not on the clone"))
    def values(s: SparkSession): (Seq[(Long, Long, Double)], Seq[(Int, Seq[Long])]) = {
      val e = s.read.parquet(s"$sf0001/embeddings.parquet").filter($"vec_id" < 12)
      val cos = e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
        .select($"a.vec_id", $"b.vec_id",
          SimSearch.cosineSim($"a.embedding", $"b.embedding"))
        .as[(Long, Long, Double)].collect().toSeq.sorted
      val sig = s.createDataFrame(Seq((1, Seq("a b c", "b c d")), (2, Seq("x y z"))))
        .toDF("id", "sh")
        .select($"id", MinhashSignature.of($"sh", 8))
        .as[(Int, Seq[Long])].collect().toSeq.sortBy(_._1)
      (cos, sig)
    }
    val (cos, sig) = values(clone)
    assert(cos.nonEmpty && sig.size == 2)
    assert((cos, sig) == values(spark))
    names.foreach(n => assert(!reg.functionExists(n), s"$n was registered again on the clone"))
  }

  test("GraftExtensions injection applies cleanly to a fresh extensions object") {
    // a full spark.sql.extensions round trip needs an isolated
    // SparkContext (getOrCreate would return the suite session and
    // silently skip the config); assert the injection wiring itself,
    // and the evaluable path it installs
    new graft.plans.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = CosineSimilarity(
      Literal.create(Array(1.0f, 0.0f)), Literal.create(Array(0.6f, 0.8f)))
    val (x, y) = (0.6f.toDouble, 0.8f.toDouble)
    assert(e.eval(null).asInstanceOf[Double] == x / math.sqrt(1.0 * (x * x + y * y)))
  }

  test("FuseCosine rule: fires only under the flag, bit-identical results, ragged caveat") {
    import graft.plans.FuseCosine
    FuseCosine.install(spark)
    val pairs = emb.as("a").join(emb.as("b"), $"a.vec_id" < $"b.vec_id" && $"b.vec_id" < 15)
    def composed = pairs.select(
      (SimSearch.dotD($"a.embedding", $"b.embedding") /
        sqrt(SimSearch.dotD($"a.embedding", $"a.embedding") *
          SimSearch.dotD($"b.embedding", $"b.embedding"))).as("cos"))
    try {
      spark.conf.set("spark.graft.fuseCosine", "false")
      val off = composed
      assert(!off.queryExecution.optimizedPlan.toString.contains("cosine_sim"),
        "flag off: the composed form must survive untouched")
      val offRows = off.as[Double].collect().sorted
      spark.conf.set("spark.graft.fuseCosine", "true")
      val on = composed
      assert(on.queryExecution.optimizedPlan.toString.contains("cosine_sim"),
        "flag on: the three-walk recipe must fuse into the codegen'd expression")
      assert(on.as[Double].collect().sorted.sameElements(offRows),
        "the rewrite must be bit-invisible on fixed-dim embeddings")
      // the caveat that makes the rule OPT-IN: on ragged arrays the
      // composed fold is NULL (zip_with null-pads) while the fused
      // expression folds the common prefix — different answers, so the
      // flag is the user asserting fixed-dimension inputs
      // repartition barrier: ConvertToLocalRelation would otherwise
      // fold the literal relation BEFORE extraOptimizations run,
      // pre-computing the composed (null) answer either way
      val ragged = Seq((Array(1.0f, 0f, 0f), Array(1.0f, 0f))).toDF("x", "y")
        .repartition(1)
      def rcos = ragged.select(
        (SimSearch.dotD($"x", $"y") /
          sqrt(SimSearch.dotD($"x", $"x") * SimSearch.dotD($"y", $"y"))).as("c"))
      spark.conf.set("spark.graft.fuseCosine", "false")
      assert(rcos.as[Option[Double]].head().isEmpty)
      spark.conf.set("spark.graft.fuseCosine", "true")
      assert(rcos.as[Option[Double]].head().contains(1.0))
    } finally spark.conf.unset("spark.graft.fuseCosine")
  }

  // ─────────────── native as-of join (whole-operator tier) ───────────────

  test("AsofMergeJoin: inclusive bound, per-key isolation, no-match nulls, atomic right row") {
    // the OperatorSpec asofLeft fixture verbatim — the native operator
    // must pin the identical edge semantics
    import graft.plans.AsofMergeJoin
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      ("A", ts("2024-01-01 10:00:00"), "l-early"),
      ("A", ts("2024-01-01 12:00:00"), "l-mid"),
      ("A", ts("2024-01-01 13:00:00"), "l-tie"),
      ("B", ts("2024-01-01 12:00:00"), "l-otherkey")
    ).toDF("k", "t", "l_val")
    val right = Seq(
      ("A", ts("2024-01-01 11:00:00"), Some("r1")),
      ("A", ts("2024-01-01 13:00:00"), Option.empty[String]),
      ("B", ts("2024-01-01 11:30:00"), Some("rB"))
    ).toDF("k", "rt", "r_val")
    val out = AsofMergeJoin.asofLeft(left, right, "k", "t", "rt", Seq("r_val"))
      .select($"l_val", date_format($"asof_time", "HH:mm").as("at"), $"r_val")
      .as[(String, Option[String], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("l-early") == ((None, None)))
    assert(out("l-mid") == ((Some("11:00"), Some("r1"))))
    assert(out("l-tie") == ((Some("13:00"), None)))
    assert(out("l-otherkey") == ((Some("11:30"), Some("rB"))))
  }

  test("AsofMergeJoin plan: the custom exec, co-partitioned exchanges, no window/nested loop") {
    import graft.plans.AsofMergeJoin
    val left = Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "t", "l_val")
    val right = Seq((1L, 5L, 100L), (2L, 25L, 200L)).toDF("k", "rt", "r_val")
    val plan = AsofMergeJoin.asofLeft(left, right, "k", "t", "rt", Seq("r_val"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsofMergeJoin"), s"custom exec must plan the node:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "the native path must carry neither the window rewrite nor a theta join")
  }

  test("AsofMergeJoin null keys: SQL join equality (never match), float keys rejected") {
    import graft.plans.AsofMergeJoin
    val left = Seq((Some(1L), 100L, "k1"), (None, 100L, "knull"))
      .toDF("k", "t", "l_val")
    val right = Seq((Some(1L), 50L, "r1"), (None, 10L, "rnull"))
      .toDF("k", "rt", "r_val")
    val out = AsofMergeJoin.asofLeft(left, right, "k", "t", "rt", Seq("r_val"))
      .select($"l_val", $"r_val")
      .as[(String, Option[String])].collect().toMap
    assert(out.size == 2, "left-join: the null-key left row survives")
    assert(out("k1").contains("r1"))
    assert(out("knull").isEmpty,
      "null keys never match — the DuckDB ASOF oracle's null-rejecting equality")
    val fl = intercept[IllegalArgumentException] {
      AsofMergeJoin.asofLeft(
        Seq((1.0f, 1L, "x")).toDF("k", "t", "v"),
        Seq((1.0f, 0L, 9L)).toDF("k", "rt", "rv"), "k", "t", "rt", Seq("rv"))
    }
    assert(fl.getMessage.contains("float/double"))
  }

  test("AsofMergeJoin null right times never match; rightValueCols validated") {
    import graft.plans.AsofMergeJoin
    // null rt sorts FIRST under the natural ascending ordering, so the
    // merge consumes it before any real match — it must never be
    // recorded as the running 'most recent' row (the oracle's
    // r.ts <= l.ts is unknown on null)
    val left = Seq((1L, 100L, "k1"), (2L, 100L, "k2")).toDF("k", "t", "l_val")
    val right = Seq((Some(1L), None, "rnullt"), (Some(1L), Some(50L), "r1"),
        (Some(2L), None, "r2nullt"))
      .toDF("k", "rt", "r_val")
    val out = AsofMergeJoin.asofLeft(left, right, "k", "t", "rt", Seq("r_val"))
      .select($"l_val", $"r_val")
      .as[(String, Option[String])].collect().toMap
    assert(out("k1").contains("r1"),
      "the null-timed row must not shadow the real match")
    assert(out("k2").isEmpty,
      "a key whose only right row is null-timed gets no match")
    // rightValueCols hygiene: duplicates and reserved names fail fast
    // instead of silently binding the first of two same-named columns
    val l = Seq((1L, 1L, "x")).toDF("k", "t", "v")
    val r = Seq((1L, 0L, 9L)).toDF("k", "rt", "rv")
    for (bad <- Seq(Seq("rv", "rv"), Seq("asof_time"), Seq("__asof_key"), Seq("rt")))
      intercept[IllegalArgumentException] {
        AsofMergeJoin.asofLeft(l, r, "k", "t", "rt", bad)
      }
  }

  test("asofLeftWithin: stale matches null out (inclusive at the bound), rows survive") {
    import graft.plans.AsofMergeJoin
    val left = Seq((1L, 100L, "fresh"), (1L, 200L, "exact"), (1L, 500L, "stale"),
      (2L, 100L, "nomatch")).toDF("k", "t", "l_val")
    val right = Seq((1L, 90L, "r")).toDF("k", "rt", "r_val")
    val out = AsofMergeJoin.asofLeftWithin(left, right, "k", "t", "rt",
        Seq("r_val"), maxAgeUs = 110L)
      .select($"l_val", $"asof_time", $"r_val")
      .as[(String, Option[Long], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out.size == 4, "left-join semantics: every left row survives")
    assert(out("fresh") == ((Some(90L), Some("r"))))    // age 10 <= 110
    assert(out("exact") == ((Some(90L), Some("r"))))    // age 110 <= 110 inclusive
    assert(out("stale") == ((None, None)))              // age 410: match nulled
    assert(out("nomatch") == ((None, None)))
  }

  test("AsofMergeJoin == union+window AsofJoin on randomized data (incl. self-as-of)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.operators.AsofJoin
    import graft.plans.AsofMergeJoin
    // many keys, few timestamps: dense tie/no-match/multi-match mix
    val rows = Gen.listOfN(400,
      Gen.zip(Gen.choose(0L, 25L), Gen.choose(0L, 50L), Gen.choose(0L, 999L)))
      .apply(Gen.Parameters.default, Seed(7L)).get
    val left = rows.take(250).toDF("k", "t", "l_val")
    val right = rows.drop(250).map { case (k, t, v) => (k, t, v) }
      .toDF("k", "rt", "r_val")
      // operator contract: right unique per (key, time)
      .groupBy("k", "rt").agg(max($"r_val").as("r_val"))
    val a = AsofJoin.asofLeft(left, right, "k", "t", "rt", Seq("r_val"))
    val b = AsofMergeJoin.asofLeft(left, right, "k", "t", "rt", Seq("r_val"))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assert(b.count() == left.count(), "left join: every left row exactly once")
    // self-as-of: both sides derived from the SAME plan — the aliasing
    // seam must prevent exprId collisions
    val evs = rows.toDF("k", "t", "v")
    val selfA = AsofJoin.asofLeft(
      evs, evs.groupBy($"k", $"t".as("rt")).agg(max($"v").as("rv")).select("k", "rt", "rv"),
      "k", "t", "rt", Seq("rv"))
    val selfB = AsofMergeJoin.asofLeft(
      evs, evs.groupBy($"k", $"t".as("rt")).agg(max($"v").as("rv")).select("k", "rt", "rv"),
      "k", "t", "rt", Seq("rv"))
    assert(selfA.exceptAll(selfB).count() == 0 && selfB.exceptAll(selfA).count() == 0)
  }

  test("unicode_tokens expression == SQL-function composition, EXHAUSTIVE per codepoint (planes 0-2)") {
    import graft.ext.TextAnalysis
    // every codepoint, embedded in the three contexts that exercise
    // run-start / run-middle / boundary behavior plus a CJK neighbor:
    // "a<c>b <c><c> 9<c>中<c>x". One mismatch anywhere in planes 0-2
    // (incl. surrogate-pair codepoints) fails the count.
    val rows = (0x20 to 0x2FFFF)
      .filterNot(cp => cp >= 0xD800 && cp <= 0xDFFF)
      .map { cp =>
        val c = new String(Character.toChars(cp))
        (cp, s"a${c}b $c$c 9${c}中${c}x")
      }
    val df = rows.toDF("cp", "s").repartition(32)
    val bad = df
      .withColumn("e", TextAnalysis.tokens(col("s")))
      .withColumn("c", TextAnalysis.tokensComposed(col("s")))
      .filter(not(col("e") <=> col("c")))
      .select("cp", "e", "c")
      .collect()
    assert(bad.length == 0, bad.take(5).map { r =>
      s"cp=0x${r.getInt(0).toHexString}: expr=${r.getSeq[String](1)} " +
        s"comp=${r.getSeq[String](2)}"
    }.mkString("; "))
    // null / empty / no-token inputs: expression is TOTAL (empty
    // array, never null) and equals the composition's coalesce posture
    val edge = Seq[(Integer, String)]((1, null), (2, ""), (3, " ,;! "))
      .toDF("id", "s")
      .select(TextAnalysis.tokens(col("s")).as("e"),
        TextAnalysis.tokensComposed(col("s")).as("c"))
      .collect()
    edge.foreach { r =>
      assert(r.getSeq[String](0) == Seq.empty && r.getSeq[String](1) == Seq.empty)
    }
  }

  test("unicode_tokens fold map and CJK ranges are in lockstep with TextAnalysis constants") {
    import graft.ext.TextAnalysis
    // fold map: the expression's private fold is pinned through the
    // exhaustive test above; here pin the CONSTANTS it must mirror
    assert(TextAnalysis.LowerPreFoldSrc.map(_.toInt) ==
      Seq(0x0130, 0xA7C7, 0xA7C9, 0xA7F5, 0x03A3, 0x03C2))
    assert(TextAnalysis.LowerPreFoldDst.map(_.toInt) ==
      Seq('I'.toInt, 0xA7C8, 0xA7CA, 0xA7F6, 0x03C3, 0x03C3))
    // CJK range predicate == the regex class, per codepoint over its
    // span plus margins
    val re = ("^" + TextAnalysis.CjkCharClass + "$").r
    (0x3000 to 0x3100).foreach { cp =>
      assert(graft.plans.UnicodeTokens.isCjk(cp) ==
        re.matches(new String(Character.toChars(cp))), f"cp=$cp%04x")
    }
    Seq(0x31EF, 0x31F0, 0x31FF, 0x3200, 0x33FF, 0x3400, 0x4DBF, 0x4DC0,
      0x4DFF, 0x4E00, 0x9FFF, 0xA000, 0xF8FF, 0xF900, 0xFAFF, 0xFB00,
      0xFF65, 0xFF66, 0xFF9D, 0xFF9E, 0x1FFFF, 0x20000, 0x2FA1F, 0x2FA20)
      .foreach { cp =>
        assert(graft.plans.UnicodeTokens.isCjk(cp) ==
          re.matches(new String(Character.toChars(cp))), f"cp=$cp%05x")
      }
  }

  test("nfc_normalize: composition pairs, singletons, jamo, fast paths, null totality") {
    import graft.ext.TextAnalysis
    val rows = Seq(
      (1L, "cafe\u0301 re\u0301sume\u0301"), // decomposed e+acute
      (2L, "caf\u00e9 r\u00e9sum\u00e9"),    // already NFC
      (3L, "\u2126 \u212b"),                  // OHM/ANGSTROM singletons
      (4L, "\u1112\u1161\u11ab"),            // conjoining jamo
      (5L, "plain ascii 42"),                // ASCII byte fast path
      (6L, null)                             // total: '' not null
    ).toDF("id", "s")
    val got = rows
      .select(col("id"), TextAnalysis.nfc(col("s")).as("n"),
        TextAnalysis.nfc(TextAnalysis.nfc(col("s"))).as("n2"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2))))
      .toMap
    assert(got(1L)._1 == "caf\u00e9 r\u00e9sum\u00e9")
    assert(got(2L)._1 == "caf\u00e9 r\u00e9sum\u00e9")
    assert(got(3L)._1 == "\u03a9 \u00c5")
    assert(got(4L)._1 == "\ud55c")
    assert(got(5L)._1 == "plain ascii 42")
    assert(got(6L)._1 == "")
    // idempotence: nfc ∘ nfc == nfc on every arm
    got.values.foreach { case (n, n2) => assert(n == n2) }
  }

  test("unicode_tokens stays inside whole-stage codegen") {
    import graft.ext.TextAnalysis
    val df = spark.range(10).toDF("id")
      .withColumn("s", concat(lit("text 北京 "), col("id").cast("string")))
      .select(size(TextAnalysis.tokens(col("s"))).as("n"))
    val wsc = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(wsc.nonEmpty, df.queryExecution.executedPlan.toString)
    assert(df.agg(sum("n")).head().getLong(0) == 40L) // 4 tokens × 10 rows
  }
}
