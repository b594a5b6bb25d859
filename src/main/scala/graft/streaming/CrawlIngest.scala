package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ext.Dedup
import graft.operators.VersionedStore
import graft.operators.VersionedStore.deleteRecursively

/** Streaming crawl ingestion — the production shape that composes the
  * engine's quarantine, near-dup index, and exactly-once disciplines
  * into ONE pipeline: a landing zone of raw JSONL crawl lines streams
  * in; each microbatch is (1) triaged (malformed lines → dead-letter
  * channel, never dropped, never fatal), (2) probed against the
  * PERSISTED minhash index — which at that point holds the historical
  * corpus PLUS every document ingested by earlier batches — so
  * re-crawled/mirrored content is flagged instead of re-ingested,
  * (3) self-deduped within the batch, and (4) the surviving novel
  * documents are appended to the index, so batch N+1 dedupes against
  * batch N's intake. Decisions commit exactly-once as
  * [[graft.operators.VersionedStore]] versions, like the CDC store.
  *
  * Scale shape (the reason each arc looks the way it does):
  *  - triage is a per-line projection inside the scan (Quarantine
  *    scaladoc) — no second pass, no driver;
  *  - the index probe shingles ONLY the batch; candidates come from
  *    the banded cross-side equi-join, so per-batch work is
  *    O(|batch|·bands + matching buckets), never |corpus|×|batch|;
  *  - batch self-dedup runs the same banded self-join at |batch| size;
  *  - the index append writes O(|novel|·bands) rows — the corpus is
  *    never rewritten (Dedup.appendToMinhashIndex).
  *
  * Batch-internal rule (deterministic, SQL-expressible): a document is
  * suppressed as `dup_batch` iff some batch document with a SMALLER id
  * is near-dup-similar to it — the conservative set rule, not a
  * sequential greedy (in a similarity chain a−b−c with a≁c, both b and
  * c are suppressed: each has a smaller similar neighbor). Precedence:
  * an index match wins (`dup_index`) over batch suppression.
  *
  * Exactly-once: the per-batch decision set is one VersionedStore
  * version. The index append runs between its [[VersionedStore.stage]]
  * and its [[VersionedStore.publish]], so the manifest still commits
  * last. On the crash-replay path (decisions staged by an earlier
  * invocation) the append is made idempotent by an anti-join against the
  * index's current ids, so a replayed batch whose append already
  * landed appends nothing. The fresh path skips that anti-join (no
  * append for the batch can exist yet), so nothing guards ACROSS
  * batches: a `new_id` ingested by an earlier batch and re-sent later
  * with changed text that is not a near-dup of its first version is
  * `ingested` and appended again, duplicating its rows in the index's
  * `sets/` and `bands/` (the index append assumes ids new to the
  * index). The probe side is duplicate-tolerant (candidate ids are
  * distinct'd) should a crash land between partial append files —
  * decisions are exactly-once, the index is
  * at-least-once-with-idempotent-replay. StreamingSpec kills the batch
  * at every window and replays.
  */
object CrawlIngest {

  val CorruptCol = "_corrupt"
  private val LineSchema = StructType(Seq(
    StructField("new_id", LongType), StructField("text", StringType),
    StructField(CorruptCol, StringType)))

  /** Apply one crawl microbatch: triage → probe → self-dedup → commit
    * decisions → append novel docs to the index → manifest. `lines` is
    * a batch frame with one raw line per row in `value`.
    */
  private[graft] def applyCrawlBatch(
      lines: DataFrame, storeRoot: String, indexPath: String, batchId: Long,
      threshold: Double = 0.8): Unit = {
    val spark = lines.sparkSession
    val store = VersionedStore(storeRoot)
    if (store.isCommitted(batchId)) return

    // deterministic re-parse (needed on the replay path too, to find
    // the novel docs for the idempotent index append)
    val parsed = lines
      .select(from_json(col("value"), LineSchema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)).as("j"))
      .select("j.*")
    val docs = parsed.filter(col(CorruptCol).isNull).select(col("new_id"), col("text"))

    var batchIdx: Dedup.MinhashIndex = null
    val fresh = store.stage(batchId) { dir =>
      val idx = Dedup.readMinhashIndex(spark, indexPath)
      // ONE batch shingle/minhash pass (the q189 one-scan-side-pass
      // rule inside the microbatch): the index probe, the batch
      // self-dedup and the append all derive from the same checkpointed
      // batch index (the probe seam requires identical geometry)
      val bIdx = Dedup.buildMinhashIndexMaterialized(docs, "new_id", "text",
        idx.shingleK, idx.numHashes, idx.numBands)
      batchIdx = bIdx
      val idxMatches = Dedup
        .nearDupPairsBetweenIndexes(bIdx, idx, threshold)
        .groupBy("new_id")
        .agg(count_distinct(col("corpus_id")).as("__n_idx"))
      val suppressed = Dedup
        .nearDupPairsFromIndex(bIdx, threshold)
        .select(col("doc_b").as("new_id")).distinct()
        .withColumn("__supp", lit(1))
      val decided = docs.select("new_id")
        .join(idxMatches, Seq("new_id"), "left")
        .join(suppressed, Seq("new_id"), "left")
        .select(
          col("new_id"),
          when(coalesce(col("__n_idx"), lit(0L)) > 0, lit("dup_index"))
            .when(col("__supp").isNotNull, lit("dup_batch"))
            .otherwise(lit("ingested")).as("status"),
          coalesce(col("__n_idx"), lit(0L)).as("n_idx_matches"),
          lit(null).cast("string").as("line_fp"))
      val quarantined = parsed.filter(col(CorruptCol).isNotNull)
        .select(
          lit(null).cast("long").as("new_id"),
          lit("quarantined").as("status"),
          lit(null).cast("long").as("n_idx_matches"),
          md5(col(CorruptCol)).as("line_fp"))
      decided.unionByName(quarantined)
        .withColumn("batch_id", lit(batchId))
        .repartition(1)
        .write.mode("errorifexists").parquet(dir)
    }

    // idempotent append: only ingested docs not already present (a
    // completed append that crashed before the manifest re-appends
    // nothing on replay)
    val ingestedIds = spark.read.parquet(store.staged(batchId))
      .filter(col("status") === "ingested").select("new_id")
    val novel0 = docs
      .join(ingestedIds, Seq("new_id"), "left_semi")
    // the already-present guard matters ONLY on the crash-replay path
    // (decisions staged by a PREVIOUS invocation — !fresh — whose
    // append may also have landed before the manifest). On the fresh
    // path THIS invocation just staged the decisions, and the append
    // runs strictly after that stage, so no append for this batch can
    // exist yet — skip the per-wave distinct over the full index id set.
    val novel =
      if (fresh) novel0
      else {
        val present = spark.read.parquet(indexPath + "/sets")
          .select(col("id").as("new_id")).distinct()
        novel0.join(present, Seq("new_id"), "left_anti")
      }
    // fresh-batch path: append straight from the checkpointed batch
    // index (no second shingle pass); crash-replay path (decisions
    // staged, batchIdx never built): index just the novel docs, whose
    // lineage reads indexPath/sets — the build's checkpoints run before
    // the append, so the append jobs carry no live read of the
    // directory being appended. Both paths end in one append body.
    if (!novel.isEmpty) {
      if (fresh) Dedup.appendFromIndex(batchIdx, novel.select("new_id"), indexPath)
      else Dedup.appendToMinhashIndex(novel, indexPath, "new_id", "text")
    }
    store.publish(batchId)
  }

  /** Union of all committed batches' decision rows. */
  private[graft] def readDecisions(spark: SparkSession, storeRoot: String): DataFrame = {
    val store = VersionedStore(storeRoot)
    store.committed.map(v => spark.read.parquet(store.path(v))).reduce(_ unionByName _)
  }

  // ── deterministic 3-wave landing fixture, derived from `documents` ──
  //
  // Wave 0: exact re-crawls of corpus docs (doc_id%11==0 → 200000+id);
  //         a novel-document family (doc_id%11==3 → 200000+id) PLUS a
  //         byte-identical in-batch copy of each (250000+id) — the
  //         batch-internal dup case; truncated-JSON lines
  //         (doc_id%11==7) — the quarantine case.
  // Wave 1: near-dup re-crawls — corpus text minus its last 3 tokens
  //         (doc_id%11==5, ≥40 tokens → 300000+id): high-but-not-1.0
  //         Jaccard, the LSH-candidate + exact-verify case.
  // Wave 2: the wave-0 novel texts REDELIVERED under new ids
  //         (400000+id) — dup only against the index STATE APPENDED BY
  //         WAVE 0 (the arc that makes ingestion order matter) — plus
  //         fresh novel docs (doc_id%11==8 → 400000+id).
  //
  // Novel text is a 7-token skeleton in which every 3-gram contains an
  // id-derived number, so distinct novel docs share no shingle (J=0)
  // and redelivered copies are exact (J=1). All constructions are
  // integer/string expressions DuckDB reproduces verbatim.
  private def novelText(tag: String, id: org.apache.spark.sql.Column) =
    concat_ws(" ", lit("novel"), lit(tag), id.cast("string"),
      lit("edge"), (id * 1000 + 7).cast("string"),
      lit("mark"), (id * 1000 + 13).cast("string"))

  private def jsonLine(newId: org.apache.spark.sql.Column, text: org.apache.spark.sql.Column) =
    to_json(struct(newId.cast("long").as("new_id"), text.as("text"))).as("value")

  private[graft] def waveLines(docs: DataFrame, wave: Int): DataFrame = {
    val id = col("doc_id")
    wave match {
      case 0 =>
        val exact = docs.filter(id % 11 === 0)
          .select(jsonLine(id + 200000, col("text")))
        val novelA = docs.filter(id % 11 === 3)
          .select(jsonLine(id + 200000, novelText("alpha", id)))
        val novelACopy = docs.filter(id % 11 === 3)
          .select(jsonLine(id + 250000, novelText("alpha", id)))
        val corrupt = docs.filter(id % 11 === 7)
          .select(concat(lit("{\"new_id\": "), (id + 500000).cast("string"),
            lit(", \"text\": \"lost")).as("value"))
        exact.union(novelA).union(novelACopy).union(corrupt)
      case 1 =>
        docs.filter(id % 11 === 5)
          .withColumn("__tk", graft.ext.TextAnalysis.tokens(col("text")))
          .filter(size(col("__tk")) >= 40)
          .select(jsonLine(id + 300000,
            concat_ws(" ", slice(col("__tk"), lit(1), size(col("__tk")) - 3))))
      case 2 =>
        val redelivered = docs.filter(id % 11 === 3)
          .select(jsonLine(id + 400000, novelText("alpha", id)))
        val novelB = docs.filter(id % 11 === 8)
          .select(jsonLine(id + 400000, novelText("delta", id)))
        redelivered.union(novelB)
      case other => sys.error(s"no wave $other in the crawl fixture")
    }
  }

  /** The certified-query surface (q190): build the corpus index fresh,
    * stream the 3-wave landing set through [[applyCrawlBatch]] with a
    * full trigger cycle per wave, and return every committed decision
    * row — (batch_id, new_id, status, n_idx_matches, line_fp). The
    * oracle re-derives the classification from `documents` with exact
    * all-pairs Jaccard, unrolled wave by wave (an earlier wave's
    * ingested set is the next wave's extra index content).
    */
  def crawlIngestReplay(outer: SparkSession, sfDir: String): DataFrame = {
    val spark = StreamingReports.replaySession(outer)
    val docs = graft.tables.Corpus.load(spark, sfDir, "documents")
    val work = java.nio.file.Files.createTempDirectory("graft-crawl")
    val (store, index, chk) =
      (s"$work/store", s"$work/index", s"$work/chk")
    Dedup.writeMinhashIndex(docs, index, "doc_id", "text", 3, 128, 32)
    try StreamingReports.replayWaves("graft-crawl-landing",
        (0 to 2).map(w => StreamingReports.render(s"wave$w", waveLines(docs, w), "text")))(
      landing => spark.readStream.text(landing)
        .writeStream
        .option("checkpointLocation", chk)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          applyCrawlBatch(b.toDF(), store, index, id)
        }
        .start())
    finally {
      // decisions are read lazily from store/; everything else is done
      deleteRecursively(java.nio.file.Paths.get(chk))
      deleteRecursively(java.nio.file.Paths.get(index))
    }
    readDecisions(spark, store)
      .select("batch_id", "new_id", "status", "n_idx_matches", "line_fp")
  }
}
