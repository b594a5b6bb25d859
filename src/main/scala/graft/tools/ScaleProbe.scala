package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, SimHash, SimSearch}
import graft.tables.Corpus

/** Pseudo-scale probe (dev tool, like ProfileLsh): measures how the
  * dedup/ANN family scales when the corpus grows 10×, using N remapped
  * AND decorrelated copies of the sf0.1 tables — the only way to probe
  * super-linear blowups locally, since the driver ships no sf1 data.
  *
  * Decorrelation is load-bearing: plain copies would make every doc a
  * near-dup of its 9 clones, turning the measurement into a C(N,2)
  * clone-pair explosion instead of a throughput curve. Texts get a
  * per-copy consonant rotation (translate), which rewrites every
  * shingle; embeddings get a per-copy cyclic rotation, which
  * decorrelates cosine while preserving norms. Expected shape for the
  * banded/bucketed pipelines is O(n·bands) work + one n-keyed shuffle:
  * ~10-14× wall at 10× rows on fixed local cores (CPU-bound scan side
  * scales linearly; the candidate join adds the bucket-collision
  * tail). Quadratic structure would show as ≥50×.
  */
object ScaleProbe {
  private def time[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // comma-separated scale points; each probes N decorrelated copies
    val copiesList = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10,25,50")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs1 = Corpus.load(spark, sfDir, "documents").select("doc_id", "text")
    val emb1 = Corpus.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val orders1 = Corpus.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_totalprice")
    val lineitem1 = Corpus.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice",
        "l_shipdate")
    val events1 = Corpus.load(spark, sfDir, "events")
      .select("event_id", "event_type", "value", "user_id", "ts", "props")

    // Two composed rotations — consonants (20 classes) × vowels (5
    // classes) — give 100 distinct text transforms, so up to 100 copies
    // stay pairwise decorrelated. A single 20-class rotation would make
    // copies i and i+20 byte-identical at 25×/50×, planting clone pairs
    // that turn the probe into a clone-pair count instead of a curve.
    val consonants = "bcdfghjklmnpqrstvwxz"
    val vowels = "aeiou"
    def docsN(n: Int): DataFrame = (0 until n).map { i =>
      val cRot = consonants.drop(i % consonants.length) + consonants.take(i % consonants.length)
      val vShift = (i / consonants.length) % vowels.length
      val vRot = vowels.drop(vShift) + vowels.take(vShift)
      docs1.select(
        (col("doc_id") + lit(i * 100000000L)).as("doc_id"),
        (if (i == 0) col("text")
         else translate(translate(col("text"), consonants, cRot), vowels, vRot)).as("text"))
    }.reduce(_.unionByName(_))
    def embN(n: Int): DataFrame = (0 until n).map { i =>
      val k = i % 64
      emb1.select(
        (col("vec_id") + lit(i * 100000000L)).as("vec_id"),
        (if (i == 0) col("embedding")
         else concat(slice(col("embedding"), k + 1, 64 - k), slice(col("embedding"), 1, k)))
          .as("embedding"))
    }.reduce(_.unionByName(_))

    // key-offset copies for the relational family (no decorrelation
    // needed — no similarity semantics; group COUNT stays fixed while
    // group SIZE grows, which is exactly the hot-group stress the
    // bounded top-k and salted shapes exist for)
    def keyedN(base: DataFrame, keyCols: Seq[String], n: Int): DataFrame =
      (0 until n).map { i =>
        keyCols.foldLeft(base)((df, k) =>
          df.withColumn(k, col(k) + lit(i * 100000000L)))
      }.reduce(_.unionByName(_))

    // graph family: ~20k-node / ~|orders|-edge synthetic graph per
    // copy; copies are node-disjoint (both endpoints offset), so NODES
    // AND EDGES scale ×n together — the walk frontier, the skip-gram
    // center set, the negative-sampling dictionary, and the 2-hop join
    // all grow with n (hub DEGREE growth is covered separately by the
    // planted-hub spec in PageRankSpec)
    val edges1 = Corpus.load(spark, sfDir, "orders")
      .select((col("o_custkey") % 20000).as("src"),
        (col("o_orderkey") % 20000).as("dst"))
      .filter(col("src") =!= col("dst"))
    def edgesN(n: Int): DataFrame = (0 until n).map { i =>
      edges1.select((col("src") + lit(i * 100000000L)).as("src"),
        (col("dst") + lit(i * 100000000L)).as("dst"))
    }.reduce(_.unionByName(_))

    // optional comma-separated op filter (SPARK_GRAFT_SCALE_OPS) for
    // re-probing a subset after a fix without paying the full sweep
    val onlyOps = sys.env.get("SPARK_GRAFT_SCALE_OPS")
      .map(_.split(",").map(_.trim).toSet)

    def probe(tag: String, d: DataFrame, e: DataFrame,
        o: DataFrame, l: DataFrame, ev: DataFrame,
        g: DataFrame): Map[String, (Double, Long)] = {
      def run(name: String, df: => DataFrame): Seq[(String, (Double, Long))] = {
        if (!onlyOps.forall(_.contains(name))) return Seq.empty
        val (t, c) = time(df.count())
        println(f"PROBE $tag $name%-16s $t%8.2f s  rows=$c")
        Seq(name -> (t, c))
      }
      val topk = udaf(new graft.operators.TypedAgg.TopKByScore(3),
        org.apache.spark.sql.Encoders.product[graft.operators.TypedAgg.Scored])
      Seq(
        run("minhash", Dedup.nearDupPairsMinhash(d, "doc_id", "text", 3, 128, 32, 0.8)),
        run("simhash", SimHash.nearDupPairsSimhash(d, "doc_id", "text", 3, 8)),
        // round-16: the banded 64-bit hamming engine (image dHash /
        // audio aHash / video frame hashes all ride it). xxhash64
        // makes the hashes ~uniform, so this measures the band-bucket
        // fan-out curve itself: candidates grow ~n²/2¹⁶ per band while
        // the scan side stays linear — a quadratic-in-bucket blowup
        // would show as a superlinear tail here first
        run("hamming_pairs", SimSearch.hammingBandedPairs(
          d.select(col("doc_id"), xxhash64(col("text")).as("h")),
          "doc_id", "h")),
        // round-14: the codegen'd tokenizer expression vs its
        // SQL-function composition — same full-scan tokenize+sum, so
        // the wall ratio IS the expression's advantage at scale
        run("utok_expr", d.repartition(32).agg(
          sum(size(graft.ext.TextAnalysis.tokens(col("text"))))
            .as("n"))),
        run("utok_composed", d.repartition(32).agg(
          sum(size(graft.ext.TextAnalysis.tokensComposed(col("text"))))
            .as("n"))),
        // round-15: the fetch-decode tier — per-row projections, so
        // both must be LINEAR in corpus size; the aggregate forces
        // the decode legs (a bare count() would prune them away)
        run("gzip_roundtrip", d.repartition(32)
          .select(graft.plans.Inflate.gunzip(graft.plans.Inflate
            .gzipCompress(col("text").cast("binary"))).as("b"))
          .agg(sum(length(col("b"))).as("n"))),
        run("fetch_decode", {
          val head = lit("HTTP/1.1 200 OK\r\n" +
            "Content-Type: text/html; charset=windows-1252\r\n" +
            "Content-Encoding: gzip\r\n\r\n")
          val rec = graft.ext.FetchDecode.responseRecord(head,
            graft.plans.Inflate.gzipCompress(graft.plans.Transcode
              .encode(col("text"), lit("windows-1252"))))
          graft.ext.FetchDecode.decodeResponses(
              d.repartition(32).select(col("doc_id"), rec.as("raw")),
              "doc_id", "raw")
            .agg(sum(length(coalesce(col("text"), lit("")))).as("n"))
        }),
        run("cosine_neardup", SimSearch.nearDupPairsCosineLsh(
          e, "vec_id", "embedding", threshold = 0.97, dim = 64, bits = 12,
          tables = 8, seed = 7L, exactMaxRows = 0)),
        run("lsh_topk", SimSearch.lshTopK(e, e.filter(col("vec_id") % 500 === 0),
          "vec_id", "embedding", k = 5, dim = 64, bits = 4, tables = 8)),
        // round-7 relational family: expected ~linear (keyed shuffles)
        run("cdc_merge", {
          val snap = o.filter(col("o_orderkey") % 4 =!= 0)
          val log = l.select(col("l_orderkey").as("o_orderkey"),
            col("l_linenumber").as("seq"),
            when(col("l_returnflag") === "R", lit("D")).otherwise(lit("U")).as("op"),
            col("l_extendedprice").as("o_totalprice"))
          graft.operators.Merge.merge(snap,
            graft.operators.Merge.compactLog(log, "o_orderkey", "seq",
              col("op"), col("o_totalprice")).drop("seq"),
            "o_orderkey", "op")
        }),
        run("topk_agg", ev.groupBy("event_type")
          .agg(topk(col("event_id"), col("value")).as("top"))
          .select(posexplode(col("top")))),
        run("inc_agg", {
          def st(x: DataFrame) = graft.operators.IncrementalAgg.state(
            x, Seq("event_type"), sums = Map("eid" -> col("event_id")),
            maxes = Map("value" -> col("value")))
          graft.operators.IncrementalAgg.merge(
            st(ev.filter(col("event_id") % 7 =!= 0)),
            st(ev.filter(col("event_id") % 7 === 0)), Seq("event_type"))
        }),
        run("balanced_mix", graft.operators.Sampling.balancedMix(
          ev, "event_type", col("event_id"), "probe")),
        // round-7 extension families. Note the copy semantics each one
        // stresses: text copies are decorrelated (linear new work);
        // event copies keep the USER SET FIXED, so funnel's per-user
        // collect and retention's distinct grow group SIZE — the
        // hot-group stress — while the (user, week) matrix stays
        // constant-size.
        run("ngram_hotspots", graft.ext.TextAnalysis
          .ngramHotspots(d, "doc_id", "text", n = 5, topK = 20)),
        run("cooc_lift", graft.ext.TextAnalysis
          .coocLift(d, "doc_id", "text", vocabK = 40, topK = 25)),
        run("boundary_dups", Dedup.boundaryDupPairs(d, "doc_id", "text", k = 3)),
        run("funnel", graft.operators.Funnel.funnelStages(
          ev, "user_id", "ts", "event_type",
          Seq("view", "click", "signup", "purchase"))),
        run("retention", graft.operators.Cohort.retention(ev, "user_id",
          expr("datediff(CAST(ts AS DATE), DATE'1970-01-01') div 7"))),
        run("span_merge", graft.operators.Intervals.coalesceIntervals(
          l.select(col("l_orderkey"), col("l_shipdate").cast("date").as("s"),
            date_add(col("l_shipdate").cast("date"),
              pmod(col("l_linenumber"), lit(14))).as("e")),
          "l_orderkey", "s", "e")),
        // round-8 family. Event copies keep the USER SET FIXED, so the
        // per-user window sorts in transitions/concurrency grow group
        // SIZE (hot-group stress); the lineitem shapes grow rows with
        // fixed dictionaries (z-tiles, skyline x-domain, benford).
        run("transitions", graft.operators.Profile.transitions(
          ev, "user_id", Seq(col("ts"), col("event_id")), col("event_type"))),
        run("concurrency", {
          val spans = graft.operators.Sessionize.sessionSpansUs(
            ev, "user_id", "ts", gapMinutes = 30)
          graft.operators.Intervals.concurrency(spans,
            col("start_us"), col("end_us"), bucketUsDiv = 86400000000L)
        }),
        run("z_tiles", graft.operators.Layout.zTileSummary(
          l.withColumn("l_partkey", col("l_orderkey") % 20000)
            .withColumn("l_suppkey", col("l_linenumber").cast("long") % 1000),
          "l_partkey", "l_suppkey", bits = 8, tileShift = 10)),
        run("skyline", graft.operators.Skyline.frontier2d(l,
          expr("CAST(l_orderkey % 50 AS BIGINT)"), col("l_extendedprice"))),
        run("top_p", {
          val daily = ev.groupBy(col("event_type"),
              expr("CAST(ts AS DATE)").as("day"))
            .agg(sum(expr("CAST(value * 100 AS BIGINT)")).as("cents"))
          graft.operators.Sampling.topPCoverage(daily, "event_type",
            col("cents"), col("day"), num = 4, den = 5)
        }),
        run("dist_drift", graft.operators.Profile.distDrift(ev,
          get_json_object(col("props"), "$.k"),
          expr("ts >= TIMESTAMP'2024-01-16'"))),
        // round-10 family. Text copies are decorrelated, so repeated
        // spans repeat only WITHIN a copy — gram df distribution is
        // preserved while corpus mass grows; expected linear (explode +
        // md5-keyed df agg + semi join + per-doc windows). The drift
        // probe derives labels from vec_id so the label set stays
        // FIXED while per-(label, pos) group size grows — hot-group
        // stress on the integer-quantized aggregate.
        run("repeated_spans", graft.ext.Dedup.repeatedSpans(
          d, "doc_id", "text", n = 8, minDf = 2)),
        // dead-letter triage throughput: events re-serialized to JSON
        // lines with every 7th line truncated mid-string (hash-keyed,
        // deterministic) — parse + classify + fingerprint per line,
        // expected linear (pure per-row map, no shuffle)
        run("quarantine", {
          val lines = ev.select(to_json(struct(col("event_id"),
              col("user_id"), col("event_type"), col("value"))).as("value"))
            .select(when(pmod(xxhash64(col("value")), lit(7)) === 0,
              substring(col("value"), 1, 20)).otherwise(col("value")).as("value"))
          graft.sources.Quarantine.triageLines(lines)
        }),
        // corpus version diff (q103/q180 family): fingerprint projection
        // per side + one full-outer join on the key — expected linear
        run("version_diff", graft.operators.Diff.diff(
          o,
          o.filter(col("o_orderkey") % 11 =!= 0)
            .withColumn("o_totalprice",
              when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1)
                .otherwise(col("o_totalprice"))),
          "o_orderkey", Seq("o_totalprice"))),
        // native as-of join (q196): purchases ⟕ most recent preceding
        // view per user through the custom merge exec. Event copies
        // keep the USER SET FIXED, so per-user run length grows with
        // the corpus — hot-key stress on the per-partition forward
        // merge; expected ~n log n (the two sorts) with O(1) carried
        // state, vs the union+window twin's padded-union width.
        run("asof_native", {
          val views = ev.filter(col("event_type") === "view")
            .groupBy("user_id", "ts").agg(max(col("event_id")).as("view_id"))
          val purchases = ev.filter(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts")
          graft.plans.AsofMergeJoin.asofLeft(
            purchases, views, "user_id", "ts", "ts", Seq("view_id"))
        }),
        // BPE train+encode (q197/q198): k=4 merges + per-doc counts.
        // The corpus is touched once (word-count aggregate + the final
        // dictionary join); every training round runs on the word-TYPE
        // table. Decorrelated copies GROW the vocabulary ~linearly
        // (each rotation rewrites every word), so this probes the
        // worst case — a real corpus's vocab saturates and rounds go
        // flat; expected ~linear overall, never super-linear.
        run("bpe_encode", {
          val ms = graft.ext.Bpe.learnMerges(d, "text", 4)
          graft.ext.Bpe.encodeCounts(d, "doc_id", "text", ms)
        }),
        // PQ production shape (q192): train m=16/k=16 per-subspace
        // codebooks, encode the corpus, ADC-shortlist(50) + exact
        // rerank for a query batch that grows with the corpus (every
        // 500th vector). Expected linear: training/encoding are
        // O(n·m)-row keyed aggregates; scoring is codes × broadcast
        // LUTs; the rerank join touches only |queries|·shortlist rows.
        run("pq_rerank", {
          import graft.ext.ProductQuant
          val cb = ProductQuant.trainCodebook(e, "vec_id", "embedding",
            m = 16, dim = 64, k = 16, lloydIters = 1)
          ProductQuant.pqRerankTopK(
            ProductQuant.encode(e, "vec_id", "embedding", cb),
            e, e.filter(col("vec_id") % 500 === 0), "vec_id", "embedding",
            cb, shortlist = 50, k = 5)
        }),
        // IVF-PQ composite (q195's production shape): coarse build +
        // residual PQ train/encode + nprobe=3 ADC shortlist + exact
        // rerank, query batch growing with the corpus (every 500th
        // vector). Expected ~linear: every stage is keyed-shuffle or
        // broadcast work over O(n·m) rows; the probe touches ~3/8 of
        // the code rows per query.
        // binary tier (q204): sign-pack the corpus, integer Hamming
        // shortlist(50) + exact cosine rerank, query batch growing
        // with the corpus. Expected ~linear in the scoring product —
        // the per-pair cost is two xor/popcounts. localCheckpoint
        // first: signWords' nested lambdas fail attribute resolution
        // when self-joined across the N-way union plan ("key not
        // found" on the vec attr) — a flat relation resolves clean;
        // the materialization cost is charged to the row, noted.
        run("hamming_rerank", {
          val ec = e.localCheckpoint()
          graft.ext.SimSearch.hammingRerankTopK(
            ec, ec.filter(col("vec_id") % 500 === 0), "vec_id", "embedding",
            dim = 64, shortlist = 50, k = 5)
        }),
        run("ivfpq_rerank", {
          import graft.ext.ProductQuant
          val idx = ProductQuant.buildIvfPq(e, "vec_id", "embedding",
            nlist = 8, m = 16, dim = 64, pqK = 16, coarseLloyd = 1, pqLloyd = 1)
          ProductQuant.ivfPqRerankTopK(idx, e, e.filter(col("vec_id") % 500 === 0),
            "vec_id", "embedding", shortlist = 50, k = 5, nprobe = 3)
        }),
        // round-11 graph-training family (q205/q209-q212). Disjoint
        // copies ⇒ expected ~linear everywhere: walks are `steps`
        // keyed joins of the frontier (|nodes| rows) vs the edge
        // table + an argmin partial agg per hop; skip-gram adds one
        // per-seed self-join over L·window bounded pairs; negatives
        // are O(|centers|·probes) md5 probes into the shard-addressed
        // dictionary (the bounded-pool shape — never |centers|×|nodes|);
        // node features are degree aggs + ONE salted edge⨝edge join.
        run("graph_walks", graft.operators.GraphWalk.walks(
          g, "src", "dst", g.select(col("src")), "src", steps = 4)),
        run("skipgram_pairs", graft.operators.GraphWalk.skipGramPairs(
          graft.operators.GraphWalk.walks(
            g, "src", "dst", g.select(col("src")), "src", steps = 4),
          window = 2)),
        run("graph_negatives", {
          import graft.operators.GraphWalk
          val pairs = GraphWalk.skipGramPairs(
            GraphWalk.walks(g, "src", "dst", g.select(col("src")), "src", 4), 2)
          val nodes = g.select(col("src").as("node"))
            .unionByName(g.select(col("dst").as("node"))).distinct()
          GraphWalk.negativeSamples(pairs, nodes, k = 3)
        }),
        run("node_features", graft.operators.GraphWalk.nodeFeatures(
          g, "src", "dst")),
        // bucketed-edges walks (q212): includes the one-time bucketed
        // table build in the row (both the 1x base and the n× point
        // pay it, so the ratio stays a fair linearity read); the claim
        // it proves is no per-hop edge shuffle
        run("walks_bucketed", {
          val tbl = s"graft_probe_edges_${tag.replace("-", "_")}"
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
          graft.operators.GraphWalk.walksBucketedEdges(
            g, "src", "dst", g.select(col("src")), "src", steps = 4,
            buckets = 32, table = tbl,
            path = s"${System.getProperty("java.io.tmpdir")}/$tbl")
        }),
        // round-11 URL/crawl family. Copies offset doc_id by 1e8 but
        // the url formulas take doc_id MOD small constants, so the
        // host/canonical space stays FIXED while fetches grow ×n —
        // the hot-group stress these operators face in reality (a few
        // big hosts dominate a crawl). Expected ~linear: projections +
        // keyed aggs + a broadcast policy join; the per-fetch robots
        // window is bounded by rules-per-host.
        run("url_decisions", {
          val url = concat(lit("http://WWW.src"),
            (col("doc_id") % 20).cast("string"),
            lit(".Example.COM"),
            when(col("doc_id") % 5 === 0, lit(":80")).otherwise(lit("")),
            lit("/Docs/"), (col("doc_id") % 50).cast("string"),
            when(col("doc_id") % 4 === 0, lit("?b=2&a=1"))
              .when(col("doc_id") % 4 === 1, lit("?a=1&b=2"))
              .otherwise(lit("")))
          graft.ext.UrlCanon.urlDecisions(
            d.select(col("doc_id"), url.as("url")), "url", "doc_id")
        }),
        run("link_graph", {
          import graft.ext.UrlCanon
          def u(id: org.apache.spark.sql.Column) = concat(
            lit("http://www.src"), (id % 20).cast("string"),
            lit(".example.com/Docs/"), (id % 50).cast("string"))
          // quadratic targets on a BOUNDED residue (offset copies put
          // doc_id near 5e9 at 50× — squaring the raw id would
          // overflow BIGINT)
          val t = col("doc_id") % 1000
          val html = d.select(col("doc_id"),
            concat(lit("<a href=\""), u(t * (t + 3) + 1),
              lit("\">a</a> <a href=\""),
              u(t * (t + 7) + 5),
              lit("\">b</a>")).as("html"))
          html.select(
              UrlCanon.canonicalHost(u(col("doc_id"))).as("src_host"),
              explode_outer(expr(
                """regexp_extract_all(html, 'href="([^"]*)"', 1)""")).as("href"))
            .filter(UrlCanon.canonicalUrl(col("href")).isNotNull)
            .withColumn("dst_host", UrlCanon.canonicalHost(col("href")))
            .filter(col("src_host") =!= col("dst_host"))
            .groupBy("src_host", "dst_host").agg(count(lit(1)).as("n_links"))
        }),
        run("robots", {
          val url = concat(lit("http://www.src"),
            (col("doc_id") % 20).cast("string"),
            lit(".example.com/Docs/"), (col("doc_id") % 50).cast("string"))
          val rules = spark.range(0, 20).selectExpr(
            "concat('www.src', CAST(id AS STRING), '.example.com') AS host",
            "inline(array(" +
              "struct('/' AS prefix, true AS allow), " +
              "struct(concat('/Docs/', CAST(id % 7 AS STRING)) AS prefix, false AS allow)))")
          graft.ext.UrlCanon.robotsDecide(
            d.select(col("doc_id"), url.as("url")), "doc_id", "url", rules)
        }),
        run("html_extract", {
          // round-12 family: pure per-row regex projection — expected
          // ~linear (CPU-bound scan, no shuffle at all)
          val html = concat(lit("<!DOCTYPE html><html><head><title>T</title>"),
            when(col("doc_id") % 4 === 0,
              lit("<script>if(a<b){x=\"</div>\";}</script>")).otherwise(lit("")),
            lit("</head><body><p>"), col("text"),
            when(col("doc_id") % 6 === 0, lit("&lt;x&gt;&amp;")).otherwise(lit("")),
            lit("</p></body></html>"),
            when(col("doc_id") % 9 === 0, lit("<a href=\"trunc")).otherwise(lit("")))
          d.select(col("doc_id"),
              graft.ext.HtmlExtract.mainText(html).as("t"))
            .select(col("doc_id"), length(col("t")).as("n"))
        }),
        run("lm_quality", {
          // model + scoring both grow with copies (the consonant/vowel
          // rotations multiply the vocab, so the bigram table scales
          // too); expected ~linear — keyed joins/aggs only
          graft.ext.TextAnalysis.lmQualityScore(
            d.filter(col("doc_id") % 5 =!= 0),
            d.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        }),
        run("http_parse", {
          // per-row regex splits — expected ~linear, no shuffle
          val raw = concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>"),
            col("text"), lit("</p>"))
          graft.ext.HttpRecord.parse(
            d.select(col("doc_id"), raw.as("raw")), "doc_id", "raw")
        }),
        run("boilerplate_paras", {
          // paragraph explode + (host, fp) count-distinct + join-back —
          // keyed shuffles at paragraph grain; hosts FIXED at 1000 so
          // per-host page counts grow with copies (the hot-host stress)
          val h = concat(lit("h"), (col("doc_id") % 1000).cast("string"))
          val html = concat(lit("<div>nav for "), h,
            lit("</div><p>"), col("text"), lit("</p><div>footer "), h,
            lit("</div>"))
          graft.ext.HtmlExtract.dropBoilerplateParagraphs(
            d.select(col("doc_id"), h.as("host"), html.as("html")),
            "doc_id", "host", "html")
        }),
        run("politeness", {
          val host = concat(lit("www.src"),
            (col("doc_id") % 1000).cast("string"), lit(".example.com"))
          graft.ext.UrlCanon.politenessSchedule(
            d.select(col("doc_id"), host.as("host")), "host", "doc_id")
        }),
        run("resolve_links", {
          // round-13 family: RFC 3986 resolution + canonicalization —
          // a fixed chain of regex passes per row; expected ~linear,
          // no shuffle
          val base = concat(lit("HTTP://WWW.H"),
            (col("doc_id") % 1000).cast("string"),
            lit(".Example.COM:80/a/b/c?x=1"))
          val href = when(col("doc_id") % 3 === 0,
            concat(lit("../up/"), (col("doc_id") % 50).cast("string")))
            .when(col("doc_id") % 3 === 1,
              concat(lit("//www.h"), (col("doc_id") % 997).cast("string"),
                lit(".example.com/p")))
            .otherwise(concat(lit("./x/./y/../"),
              (col("doc_id") % 50).cast("string")))
          d.select(col("doc_id"), graft.ext.UrlCanon.canonicalUrl(
              graft.ext.UrlCanon.resolveUrl(base, href)).as("u"))
            .select(col("doc_id"), length(col("u")).as("n"))
        }),
        run("robots_parse", {
          // one robots body per doc-host: line explode + per-host
          // group windows (each window = one small file) + keyed
          // group/host aggregates — expected ~linear
          val h = concat(lit("h"), col("doc_id").cast("string"))
          val body = concat(
            lit("User-Agent: GraftBot\nDisallow: /private\n\n" +
              "User-agent: *\nAllow: /\nDisallow: /Docs/"),
            (col("doc_id") % 7).cast("string"),
            lit("\nDisallow:\nCrawl-delay: 5\n\nUser-agent: other\nDisallow: /\n"))
          graft.ext.UrlCanon.parseRobots(
            d.select(h.as("host"), body.as("body")), "host", "body", "graftbot")
        }),
        run("chunked_decode", {
          // frame the text into 15-byte chunks, then invert via the
          // bounded decode fold — CPU-bound per-row, expected ~linear
          val body = graft.ext.HttpRecord.chunkedFrame(col("text"), 15)
          d.repartition(32, col("doc_id")).select(col("doc_id"),
            length(graft.ext.HttpRecord.decodeChunked(body)).as("n"))
        }),
        run("redirect_chains", {
          // maxHops keyed self-joins against a redirect map that grows
          // with copies (ids are copy-offset) — expected ~linear
          val i = col("doc_id")
          def host(m: Column) = concat(lit("http://h"),
            (m % 5000).cast("string"), lit(".com"))
          val url = concat(host(i), lit("/R/"), i.cast("string"))
          val loc = when(i % 5 === 0, lit(""))
            .when(i % 5 === 3, lit("javascript:void(0)"))
            .when(i % 10 === 4, concat(lit("/R/"), i.cast("string")))
            .otherwise(concat(host(i + 1), lit("/R/"), (i + 1).cast("string")))
          graft.ext.UrlCanon.resolveRedirects(
            d.select(i, url.as("url"), loc.as("loc")), "doc_id", "url", "loc")
        }),
        run("cache_plan", {
          // pure per-row projection (header reads + two date parses)
          // — expected ~linear, no shuffle
          val id = col("doc_id")
          val raw = concat(lit("HTTP/1.1 200 OK\r\nDate: Mon, 12 Jan 2026 00:00:00 GMT"),
            when(id % 3 === 0, concat(lit("\r\nCache-Control: max-age="),
              (id % 9000).cast("string")))
              .when(id % 3 === 1, concat(lit("\r\nExpires: Mon, 12 Jan 2026 0"),
                (id % 10).cast("string"), lit(":30:00 GMT")))
              .otherwise(lit("\r\nLast-Modified: Sun, 11 Jan 2026 03:00:00 GMT")),
            lit("\r\nContent-Type: text/html\r\n\r\n"), col("text"))
          graft.ext.HttpRecord.cachePlan(
            d.repartition(32, id).select(id, raw.as("raw")), "doc_id", "raw")
        }),
        run("retry_backoff", {
          // two keyed aggregates + one keyed join at host grain; host
          // count grows with copies — expected ~linear
          val id = col("doc_id")
          val raw = when(id % 3 === 0, lit("HTTP/1.1 200 OK\r\n\r\nx"))
            .otherwise(lit("HTTP/1.1 503 Service Unavailable\r\nRetry-After: 30\r\n\r\nx"))
          val log = d.select(
            concat(lit("h"), (id / 4L).cast("long").cast("string")).as("host"),
            (id % 4L).as("attempt"), raw.as("raw"))
          graft.ext.HttpRecord.retryBackoff(log, "host", "attempt", "raw")
        }),
        run("crawl_traps", {
          // distinct + two family-grain aggregates — expected ~linear
          val id = col("doc_id")
          val url = concat(lit("http://h"), (id % 5000).cast("string"),
            lit(".com"),
            when(id % 2 === 0, concat(lit("/cal/"),
              ((id * (id + 3) + 1) % 97).cast("string"), lit("/"),
              ((id * (id + 7) + 5) % 89).cast("string")))
              .otherwise(concat(lit("/s?k"), (id % 11).cast("string"),
                lit("="), id.cast("string"))))
          graft.ext.UrlCanon.crawlTrapStats(d.select(url.as("url")), "url")
        }),
        run("link_density", {
          // pure per-row projection (sentinel chain + in-row HOF
          // density fold) — expected ~linear, no shuffle
          val html = concat(
            lit("<div><a href=\"/\">Home</a> <a href=\"/a\">About</a></div><p>"),
            col("text"), lit("</p><p>see <a href=\"/m\">details</a> inline</p>"))
          graft.ext.HtmlExtract.dropLinkFarmParagraphs(
            d.repartition(64, col("doc_id"))
              .select(col("doc_id"), html.as("html")), "doc_id", "html")
        }),
        run("intake_e2e", {
          // the COMPOSED q234 intake chain — url dedup → robots →
          // budget → extraction → language gate → LM quality → ONE
          // decision table — in one measured plan, because per-stage
          // linearity does not imply composed linearity (the q69→q104
          // localCheckpoint lesson: multi-consumer stages re-derive
          // without a barrier). Hosts FIXED at 1000 (hot-host stress);
          // paths pair-share a key so the dedup stage does real
          // collapsing; every surviving row still flows through
          // extraction + lang + LM, so the heavy stages grow ×n.
          import graft.ext.{HtmlExtract, TextAnalysis, UrlCanon}
          val url = concat(lit("http://WWW.src"),
            (col("doc_id") % 1000).cast("string"), lit(".Example.COM/Docs/"),
            (col("doc_id") / 2).cast("long").cast("string"),
            when(col("doc_id") % 4 === 0, lit("?b=2&a=1"))
              .when(col("doc_id") % 4 === 1, lit("?a=1&b=2"))
              .otherwise(lit("")))
          val dec = UrlCanon.urlDecisions(
              d.select(col("doc_id"), url.as("url")), "url", "doc_id")
            .select("doc_id", "canonical_url", "decision")
            .localCheckpoint()
          val kept = dec.filter(col("decision") === "kept")
            .select(col("doc_id"), col("canonical_url"))
          val rules = spark.range(0, 1000).selectExpr(
            "concat('www.src', CAST(id AS STRING), '.example.com') AS host",
            "inline(array(" +
              "struct('/' AS prefix, true AS allow), " +
              "struct(concat('/Docs/', CAST(id % 7 AS STRING)) AS prefix, false AS allow)))")
          val rob = UrlCanon.robotsDecide(kept, "doc_id", "canonical_url", rules)
            .select(col("doc_id"), col("host"), col("decision").as("__rd"))
            .localCheckpoint()
          val bud = graft.operators.Sampling.sampleExactN(
              rob.filter(col("__rd") === "allow").select("doc_id", "host"),
              "host", col("doc_id"), n = 1000000, salt = "probe-budget")
            .select(col("doc_id"), lit(1).as("__inb"))
            .localCheckpoint()
          val es = "el la de que y en los se del las por un para con no"
          val pages = d.select(col("doc_id"), concat(
            lit("<html><body><p>"),
            when(col("doc_id") % 11 === 0, reverse(col("text")))
              .when(col("doc_id") % 11 === 5, concat(lit(es + " "), col("text")))
              .otherwise(col("text")),
            lit("</p></body></html>")).as("html"))
          val surv = bud.join(pages, Seq("doc_id"))
            .select(col("doc_id"), HtmlExtract.mainText(col("html")).as("text"))
            .localCheckpoint()
          val lang = TextAnalysis.withLangGuess(surv, "text", "__lang")
            .select(col("doc_id"), col("__lang"))
          val (c2, c1) = TextAnalysis.lmModel(
            d.filter(col("doc_id") % 5 =!= 0), "text")
          val lm = TextAnalysis.lmScoreWith(c2, c1, surv, "doc_id", "text")
            .select(col("doc_id"), col("flag").as("__lmflag"))
          dec
            .join(rob.select("doc_id", "__rd"), Seq("doc_id"), "left")
            .join(bud, Seq("doc_id"), "left")
            .join(lang, Seq("doc_id"), "left")
            .join(lm, Seq("doc_id"), "left")
            .select(col("doc_id"),
              when(col("decision") =!= "kept", col("decision"))
                .when(col("__rd") === "deny", lit("denied"))
                .when(col("__inb").isNull, lit("over_budget"))
                .when(col("__lang").isNotNull && col("__lang") =!= "en" &&
                  col("__lang") =!= "und", lit("wrong_language"))
                .when(col("__lmflag") === "low", lit("low_quality"))
                .otherwise(lit("kept")).as("decision"))
        }),
        run("gopher_flags", {
          // round-13b family: interpreted HOF line/word filters —
          // CPU-bound per-row, no shuffle; repartition spreads the
          // 1x single split (q241 discipline)
          graft.ext.TextAnalysis.gopherQualityFlags(
            d.repartition(32, col("doc_id")), "doc_id", "text")
        }),
        run("script_profile", {
          // per-class regexp_extract_all projection — expected
          // ~linear, no shuffle
          graft.ext.TextAnalysis.scriptProfile(
            d.repartition(32, col("doc_id")), "doc_id", "text")
        }),
        run("repetition_rules", {
          // (doc, gram)-grain explodes + two keyed aggs + id joins;
          // texts decorrelated across copies so gram groups stay
          // doc-bounded — expected ~linear
          val txt = concat(col("text"), lit("\n"),
            substring(col("text"), 1, 60), lit("\n"),
            substring(col("text"), 1, 60))
          graft.ext.TextAnalysis.repetitionFlags(
            d.repartition(32, col("doc_id"))
              .select(col("doc_id"), txt.as("text")), "doc_id", "text")
        }),
        run("para_dedup", {
          // paragraph-hash argmin + doc-grain rebuild. The second
          // paragraph takes doc_id % 1000 (preserved under the 1e8
          // copy offsets), so 1000 HOT fingerprints grow occurrences
          // ×n — the partial-aggregable min must map-side combine
          // them; expected ~linear
          val txt = concat(col("text"), lit("\n\nshared para "),
            (col("doc_id") % 1000).cast("string"))
          graft.ext.Dedup.dedupParagraphsCorpus(
            d.select(col("doc_id"), txt.as("text")), "doc_id", "text")
        }),
        run("budget_select", {
          // one range exchange + pid-local running sums + broadcast
          // ≤P-row offsets — expected ~n log n (in-partition sorts),
          // nothing single-partition
          graft.operators.Sampling.selectByBudget(
            d.select(col("doc_id"),
              (col("doc_id") % 97).cast("long").as("score"),
              (length(col("text")) % 500 + 50).cast("long").as("cost")),
            "doc_id", "score", "cost", budget = 1000000L)
        }),
        run("c4_rules", {
          // round-13c family: interpreted HOF line filters + page
          // token scan — CPU-bound per-row projection, no shuffle
          graft.ext.TextAnalysis.c4Rules(
            d.repartition(32, col("doc_id")), "doc_id", "text")
        }),
        run("norm_dedup", {
          // 1000 HOT normalized groups growing occurrences ×n (tags
          // translated to LETTERS — digit tags collide to one group
          // post-normalization); min-id keep must map-side combine
          val tag = translate((col("doc_id") % 1000).cast("string"),
            "0123456789", "abcdefghij")
          val txt = concat(lit("Group "), tag, lit(" CAFÉ 42 text."),
            when(col("doc_id") % 2 === 0, lit("  extra"))
              .otherwise(lit(" EXTRA")))
          graft.ext.Dedup.dedupExactNormalized(
            d.select(col("doc_id"), txt.as("text")), "doc_id", "text")
        }),
        run("nb_classifier", {
          // train (two token aggs + vocab full-outer join) + score
          // (model join over per-(doc,token) counts) on the scaled
          // corpus — vocab bounded by the 100 rotation alphabet, doc
          // side grows ×n; expected ~linear
          val m = graft.ext.TextClassifier.nbTrainContrast(
            d.filter(col("doc_id") % 2 === 0),
            d.filter(col("doc_id") % 2 === 1), "text")
          graft.ext.TextClassifier.nbScoreContrast(
            m, d.repartition(32, col("doc_id")), "doc_id", "text")
        }),
        run("warc_split", {
          // bounded framing fold: MaxRecords fixed-cost steps per
          // blob regardless of record count — expected ~linear
          val pay = substring(col("text"), 1, 80)
          val rec = concat(
            lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u"),
            col("doc_id").cast("string"), lit("\r\nContent-Length: "),
            length(pay).cast("string"), lit("\r\n\r\n"), pay,
            lit("\r\n\r\n"))
          graft.ext.WarcRecord.splitRecords(
            d.repartition(32, col("doc_id"))
              .select(col("doc_id"), concat(rec, rec).as("blob")),
            "doc_id", "blob")
        }),
        run("archive_intake", {
          // the composed q272 chain (split → parse → extract) minus
          // fixture arms — catches cross-stage plan pathologies
          import graft.ext.{HtmlExtract, HttpRecord, WarcRecord}
          val pay = concat(
            lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html><p>"),
            substring(col("text"), 1, 100), lit("</p></html>"))
          val rec = concat(
            lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u"),
            col("doc_id").cast("string"), lit("\r\nContent-Length: "),
            length(pay).cast("string"), lit("\r\n\r\n"), pay,
            lit("\r\n\r\n"))
          val recs = WarcRecord.splitRecords(
              d.repartition(32, col("doc_id"))
                .select(col("doc_id"), rec.as("blob")), "doc_id", "blob")
            .withColumn("rid",
              col("doc_id") * 4 + coalesce(col("rec_idx"), lit(3L)))
            .localCheckpoint()
          val parsed = HttpRecord.parse(
            recs.filter(col("warc_status") === "ok" &&
              col("warc_type") === "response"), "rid", "payload")
            .select(col("rid"), col("decision"))
          recs.join(parsed, Seq("rid"), "left")
            .withColumn("text", when(col("decision") === "ok",
              HtmlExtract.mainText(HttpRecord.body(col("payload")))))
            .select("doc_id", "rec_idx", "decision", "text")
        }),
        run("span_dedup", {
          // sentence-span keep-first: the second sentence block is
          // doc_id % 1000 (preserved under copy offsets) so 1000 HOT
          // span fingerprints grow occurrences ×n — the packed-long
          // argmin must map-side combine; sentence/span explodes stay
          // doc-bounded
          val tag = translate((col("doc_id") % 1000).cast("string"),
            "0123456789", "abcdefghij")
          val txt = concat(
            lit("alpha one x. shared "), tag, lit(" two. shared "), tag,
            lit(" three. shared "), tag, lit(" four. tail "),
            col("doc_id").cast("string"), lit(" five."))
          graft.ext.Dedup.dedupSentenceSpans(
            d.select(col("doc_id"), txt.as("text")), "doc_id", "text")
        }),
        run("ppl_buckets", {
          // histogram-first terciles: (group, value) hash agg +
          // one keyed window + boundary join — expected ~linear
          graft.operators.Quantiles.bucketByGroupTerciles(
            // square the RESIDUE, not the raw id: copy-offset ids
            // (~5e9) squared overflow long under ANSI (the q262/q264
            // bounded-modular-form lesson)
            d.select(col("doc_id"),
              concat(lit("l"), (col("doc_id") % 7).cast("string"))
                .as("lang"),
              (((col("doc_id") % 997) * (col("doc_id") % 997)) % 997)
                .cast("long").as("score")),
            "lang", "score")
        }),
        run("centroid_drift", {
          // label from (id div 2): decorrelated from the %2 version
          // split — label = id%10 would pin every label to ONE parity
          // and the na>0 && nb>0 filter would empty the result
          val q = e.select((col("vec_id") % 2).as("__ver"),
              ((col("vec_id") / 2).cast("long") % 10).as("label"),
              posexplode(col("embedding")).as(Seq("__p0", "__x")))
            .select(col("__ver"), col("label"), (col("__p0") + 1).as("p"),
              round(col("__x").cast("double") * lit(1048576.0)).cast("long").as("__qx"))
          q.groupBy("label", "p")
            .agg(sum(when(col("__ver") === 0, col("__qx"))).as("__sa"),
              count(when(col("__ver") === 0, 1)).as("__na"),
              sum(when(col("__ver") === 1, col("__qx"))).as("__sb"),
              count(when(col("__ver") === 1, 1)).as("__nb"))
            .filter(col("__na") > 0 && col("__nb") > 0)
            .groupBy("label")
            .agg(count(lit(1)).as("n_pos"),
              sum(abs(col("__sa") * col("__nb") - col("__sb") * col("__na")))
                .as("l1_cross"))
        })).flatten.toMap
    }

    // warm-up: one full discarded 1x pass eats codegen/JIT compilation
    // (the first minhash run carries ~2-4 s of one-time codegen, which
    // would otherwise inflate the 1x base and understate the ratios)
    docs1.count(); emb1.count(); orders1.count(); lineitem1.count(); events1.count()
    probe("1x-discard", docs1, emb1, orders1, lineitem1, events1, edges1)
    val base = probe("1x", docs1, emb1, orders1, lineitem1, events1, edges1)
    val points = copiesList.map { n =>
      n -> probe(s"${n}x", docsN(n), embN(n),
        keyedN(orders1, Seq("o_orderkey"), n),
        keyedN(lineitem1, Seq("l_orderkey"), n),
        keyedN(events1, Seq("event_id"), n),
        edgesN(n))
    }
    val curve = points.map { case (n, big) =>
      val ratios = base.keys.toSeq.sorted.map { k =>
        // Locale.ROOT: a comma-decimal default locale would render 3,5
        // and break the machine-readable line (same class of bug as the
        // Bench contract-line fix)
        val r = String.format(java.util.Locale.ROOT, "%.1f",
          Double.box(big(k)._1 / base(k)._1))
        s""""$k":$r"""
      }.mkString("{", ",", "}")
      s""""${n}x":$ratios"""
    }.mkString(",")
    println(s"""{"probe":"scale","copies":[${copiesList.mkString(",")}],"wall_ratio":{$curve}}""")
    spark.stop()
  }
}
