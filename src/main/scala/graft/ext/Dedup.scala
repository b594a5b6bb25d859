package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication at training-corpus scale.
  *
  * Two levels:
  *  - exact: hash-groupBy on a canonical content hash — one shuffle on
  *    the hash key, fully distributed.
  *  - near-dup: MinHash + banded LSH. Signatures are computed per-row
  *    (no shuffle); candidate pairs come from a self-equi-join on
  *    (band, band-hash) buckets — NEVER an all-pairs product — then a
  *    single exact-Jaccard verification pass over candidates only.
  *    At 100 TB the bucket join shuffles each doc's 32 band keys, i.e.
  *    O(n·bands) rows, and the pair verification is proportional to the
  *    number of colliding pairs, not n².
  *
  * Skew note: a pathological bucket (thousands of byte-identical docs)
  * would make the bucket self-join quadratic in that bucket. Run
  * `exactDedup` first so byte-identical mass collapses to one
  * representative before LSH, and leave AQE skew-join on for the rest.
  */
object Dedup {

  /** MinHash universe: h_i(x) = (a_i·x + b_i) mod P over x = base
    * shingle hash in [0, P). P = 2^31-1 (prime); a,b < P so a·x + b
    * stays under 2^62 — no 64-bit overflow.
    */
  val P = 2147483647L

  /** Fixed seed pairs: java.util.Random's LCG is specified by the JDK
    * spec, so these are deterministic across JVMs/runs.
    */
  def seedPairs(numHashes: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new java.util.Random(seed)
    def next(bound: Long): Long = math.floorMod(rnd.nextLong(), bound)
    Seq.fill(numHashes)((next(P - 1) + 1, next(P)))
  }

  /** (__id, __sh) shingle sets, pre-partitioned by doc id.
    *
    * The repartition comes BEFORE the tokenize/shingle work: a small
    * corpus arrives as one parquet split, which would run the whole
    * CPU-heavy scan-side pipeline (regex tokenize, shingle, hash) on a
    * single task. Hash-partitioning the raw (id, text) rows spreads that
    * work across the cluster AND already satisfies a per-doc aggregate's
    * clustering ([[bandedOfAgg]]), so the exchange that would otherwise
    * sit after the (much wider) exploded feature stream is elided — the
    * shuffle moves earlier and smaller. At 100 TB the scan is naturally
    * multi-split, and pre-clustering by id is still the cheaper place to
    * shuffle.
    */
  private[graft] def shingled(docs: DataFrame, idCol: String, textCol: String, shingleK: Int): DataFrame =
    TextAnalysis.withShingleSet(
        docs.select(col(idCol).as("__id"), col(textCol).as("__text"))
          .repartition(col("__id")), "__text", shingleK, "__sh")
      .select(col("__id"), col("__sh"))

  /** (__id, band, bh) LSH band keys from shingle sets — a pure
    * projection: the codegen'd [[graft.plans.MinhashSignature]]
    * expression folds all numHashes running minima in one per-row loop
    * (each shingle hashed ONCE), band keys are xxhash64 over signature
    * slices, and posexplode emits the band rows. NO aggregation, NO
    * clustering requirement — at 100 TB this pipelines inside
    * whole-stage codegen straight off the scan; the first exchange in
    * the whole LSH pipeline is the bucket join itself.
    *
    * History, why not the two obvious built-in forms (both kept under
    * test as the equivalence oracle):
    *  - nested higher-order array expressions re-hash
    *    |shingles|×numHashes times per row via projection collapse
    *    (measured 20× slower at sf0.1);
    *  - explode_outer → groupBy(min×numHashes) ([[bandedOfAgg]]) hashes
    *    once but pays aggregation machinery over the exploded stream
    *    and needs the doc-id clustering the caller pre-arranges.
    * PlansSpec asserts the expression path is row-for-row identical to
    * the aggregate path, so indexes built by either interoperate.
    */
  private[graft] def bandedOf(base: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes == bands * (numHashes / bands), "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // explode_outer(array(…)), not a bare alias: the isNotNull filter
    // below would otherwise be alias-inlined and PUSHED UNDER the
    // projection (the third no-CSE form — see TextAnalysis scaladoc),
    // re-running the whole tokenize→shingle→signature chain once for
    // the predicate and once for the output (measured 3× on q18).
    // Predicates on Generate output are never pushed below it.
    val sig = base
      .select(col("__id"),
        explode_outer(array(graft.plans.MinhashSignature.of(col("__sh"), numHashes))).as("__sig"))
      .filter(col("__sig").isNotNull)
    val bandCols = (0 until bands).map { bd =>
      xxhash64(lit(bd) +: (0 until rowsPerBand).map(r =>
        element_at(col("__sig"), bd * rowsPerBand + r + 1)): _*)
    }
    sig.select(col("__id"), posexplode(array(bandCols: _*))).toDF("__id", "band", "bh")
  }

  /** The explode→aggregate signature form [[bandedOf]] replaced; kept
    * as the independent recipe PlansSpec certifies the expression path
    * against (and as the fallback if a deployment must avoid custom
    * expressions). explode_OUTER + isNotNull, not plain explode: see
    * the no-CSE pushdown note in [[bandedOf]].
    */
  private[graft] def bandedOfAgg(base: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes == bands * (numHashes / bands), "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val seeds = seedPairs(numHashes)
    val minAggs = seeds.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("__x") * a + b, lit(P))).as(s"__m$i")
    }
    val sig = base
      .select(col("__id"), explode_outer(col("__sh")).as("__f"))
      .filter(col("__f").isNotNull)
      .withColumn("__x", pmod(xxhash64(col("__f")), lit(P)))
      .groupBy("__id")
      .agg(minAggs.head, minAggs.tail: _*)
    val bandCols = (0 until bands).map { bd =>
      xxhash64(lit(bd) +: (0 until rowsPerBand).map(r => col(s"__m${bd * rowsPerBand + r}")): _*)
    }
    sig.select(col("__id"), posexplode(array(bandCols: _*))).toDF("__id", "band", "bh")
  }

  /** Exact dedup by canonical hash: one row per distinct content, with
    * the deterministic representative (min id) and the duplicate count.
    * (Spark's dropDuplicates keeps an *arbitrary* row; min-id keep makes
    * the result reproducible and oracle-checkable.)
    */
  def exactDedup(df: DataFrame, idCol: String, keyCol: Column): DataFrame =
    df.groupBy(keyCol.as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** NORMALIZED exact dedup: `normalizer` (default
    * [[TextAnalysis.normalizeForDedup]] — Latin-targeted; pass
    * [[TextAnalysis.normalizeForDedupU]] for multilingual corpora) →
    * hash-groupBy keep-min-id, joined back so EVERY input doc gets one
    * row: (idCol, norm_text, keep_id, n_copies, is_dup). This is the
    * CCNet posture — exact dedup over normalized text catches the
    * case/digit/accent/punctuation variants raw exact dedup misses,
    * at exact-dedup cost (one shuffle), where raw near-dup would need
    * minhash.
    *
    * 100-TB shape: the shuffle key is `xxhash64(norm_text)` — 8 bytes
    * per row on the exchange, never the document string (the min-id
    * keep rule is a primitive-buffer hash aggregate with map-side
    * combine). 64-bit collisions (~n²/2⁶⁵) would merge unrelated docs;
    * corpora past ~10⁸ docs should widen the key to
    * (xxhash64(s), xxhash64(reverse(s))) — same plan shape.
    */
  def dedupExactNormalized(
      df: DataFrame, idCol: String, textCol: String,
      normalizer: Column => Column =
        graft.ext.TextAnalysis.normalizeForDedup): DataFrame = {
    val withNorm = df
      .withColumn("norm_text", normalizer(col(textCol)))
      .withColumn("__h", xxhash64(col("norm_text")))
    val groups = withNorm.groupBy("__h")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
    withNorm.join(groups, "__h")
      .select(col(idCol), col("norm_text"), col("keep_id"), col("n_copies"),
        (col(idCol) =!= col("keep_id")).as("is_dup"))
  }

  /** Exact n-gram-Jaccard near-dup pairs via a shingle inverted index:
    * pairs come from the self-equi-join on shared shingles (postings),
    * so work is Σ|posting list|² — candidates share content by
    * construction, never an all-pairs product. Returns
    * (doc_a, doc_b, jaccard) with jaccard >= threshold, doc_a < doc_b.
    *
    * Scale hazard: a stop-shingle ("of the and"-style) with a huge
    * posting list makes its join quadratic (posting-join work is
    * Σ df², unbounded without a cap). Two pruning knobs, composable:
    *  - `maxShingleDf`: absolute document-frequency cap (classic
    *    inverted-index pruning).
    *  - `maxShingleDfPermille`: corpus-relative stop-shingle cap —
    *    drop shingles appearing in more than pm‰ of documents, with
    *    cap = greatest(1, n_docs·pm div 1000) in pure integer
    *    arithmetic so a SQL oracle reproduces it bit-for-bit. Relative
    *    is the right near-dup semantics: duplicate-cluster shingles
    *    have df ≈ cluster size (signal, grows with the corpus), while
    *    stop-shingles have df ≈ a corpus fraction (noise).
    * Near-dup pairs still share plenty of rare shingles; both None
    * keeps the operator exact. For corpora where any posting join is
    * too hot, use the minhash-LSH variant below.
    */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.5,
      maxShingleDf: Option[Int] = None,
      maxShingleDfPermille: Option[Int] = None): DataFrame = {

    val base = shingled(docs, idCol, textCol, shingleK)
    // NOT checkpointed: the posting self-join's two sides and the df
    // aggregate shuffle on the same __f key, so ReuseExchange already
    // covers the expensive branches — an eager materialization of the
    // exploded postings bought nothing locally (3.65 → 3.73 s at sf0.1)
    // and would cost a full write of the exploded stream at scale.
    val feat = base
      .select(col("__id"), explode_outer(col("__sh")).as("__f"))
      .filter(col("__f").isNotNull)
    val posting =
      if (maxShingleDf.isEmpty && maxShingleDfPermille.isEmpty) feat
      else {
        val dfreq = feat.groupBy("__f").agg(count(lit(1)).as("__df"))
        val absPruned = maxShingleDf.map(c => dfreq.filter(col("__df") <= c)).getOrElse(dfreq)
        val pruned = maxShingleDfPermille match {
          case Some(pm) =>
            // n_docs as a broadcast 1-row frame, not a driver .count():
            // the cap stays inside the plan, no extra action
            val tot = base.agg(count(lit(1)).as("__tot"))
            absPruned.crossJoin(broadcast(tot))
              .filter(col("__df") <= greatest(lit(1L), expr(s"(__tot * $pm) div 1000")))
          case None => absPruned
        }
        feat.join(pruned.select("__f"), Seq("__f")).select("__id", "__f")
      }
    val sz = feat.groupBy("__id").agg(count(lit(1)).as("__n"))
    val inter = posting.as("a")
      .join(posting.as("b"), col("a.__f") === col("b.__f") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"))
      .agg(count(lit(1)).as("__i"))
    inter
      .join(sz.select(col("__id"), col("__n").as("__na")), col("doc_a") === col("__id")).drop("__id")
      .join(sz.select(col("__id"), col("__n").as("__nb")), col("doc_b") === col("__id")).drop("__id")
      .withColumn("jaccard",
        col("__i").cast("double") / (col("__na") + col("__nb") - col("__i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** A minhash-LSH corpus index: `bands` (__id, band, bh) drives the
    * candidate join; `sets` (__id, __sh) drives exact-Jaccard
    * verification. Build once per corpus compaction, persist with
    * [[writeMinhashIndex]], probe every batch with
    * [[nearDupPairsMinhashAgainstIndex]] — the batch path never touches
    * the corpus text again (at 100 TB, re-shingling the corpus per
    * daily batch is the scale-killer this exists to avoid). An
    * in-memory index comes from [[buildMinhashIndexMaterialized]] or
    * [[readMinhashIndex]].
    */
  final case class MinhashIndex(
      bands: DataFrame, sets: DataFrame,
      shingleK: Int, numHashes: Int, numBands: Int)

  /** Build the index frames for a corpus from ONE scan-side pass.
    *
    * EAGER: the call runs two local checkpoint jobs before it returns,
    * the shingle sets first, then the band keys derived from the
    * CHECKPOINTED sets. Every product of the index (band join, verify
    * joins, append) reads the materialized frames, so each document is
    * tokenized, shingled and signed once; over lazy frames each
    * consumer would re-run that pipeline from its own scan of `corpus`.
    * The checkpoints are LOCAL (executor block storage): a frame
    * derived from the index starts its lineage at them, so a lost
    * executor loses the index and the frame cannot be recomputed from
    * `corpus`. A durable checkpoint would survive that at the cost of a
    * write; the choice belongs to one materialization seam, not to the
    * operators. Corpus-scale builds persist through
    * [[writeMinhashIndex]] instead of caching.
    */
  def buildMinhashIndexMaterialized(
      corpus: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 32): MinhashIndex = {
    val base = shingled(corpus, idCol, textCol, shingleK).localCheckpoint()
    MinhashIndex(bandedOf(base, numHashes, bands).localCheckpoint(), base,
      shingleK, numHashes, bands)
  }

  /** Shingle `corpus` and persist its index as three parquet tables
    * under `path`: sets/ (id, shingles), bands/ (id, band, bh), params/
    * (1 row). Nothing is cached: sets/ is written first and bands/ is
    * derived from the WRITTEN sets — one pruned parquet re-read, at
    * 100 TB strictly cheaper than tokenizing the corpus a second time;
    * the array<string> round-trip is lossless, so the band hashes are
    * bit-identical to an in-memory build's. On a real cluster you'd
    * bucket bands/ by (band, bh) at write time so every batch probe
    * co-locates without a corpus-side shuffle; plain parquet keeps the
    * sandbox path simple while the read side's join shape is identical.
    *
    * Invariant, kept by every writer (this one, [[appendToMinhashIndex]],
    * [[appendFromIndex]], [[compactMinhashIndex]]): bands/ ==
    * bandedOf(sets/) at the stored geometry, as row multisets — each
    * sets/ row contributes exactly its own band rows. The public writers
    * take documents, never a bands frame; [[appendFromIndex]] takes an
    * index whose frames only this object builds (SourceGuardSpec). An
    * id appended twice (CrawlIngest's re-sent `new_id`) has two rows in
    * sets/ and two band-row groups in bands/.
    */
  def writeMinhashIndex(
      corpus: DataFrame, path: String, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 32): Unit =
    writeSets(shingled(corpus, idCol, textCol, shingleK), path, shingleK, numHashes, bands)

  /** [[writeMinhashIndex]]'s body over (__id, __sh) shingle sets. */
  private def writeSets(
      sets: DataFrame, path: String, shingleK: Int, numHashes: Int, bands: Int): Unit = {
    val spark = sets.sparkSession
    sets.select(col("__id").as("id"), col("__sh").as("shingles"))
      .write.mode("overwrite").parquet(path + "/sets")
    bandedOf(storedSets(spark, path), numHashes, bands)
      .select(col("__id").as("id"), col("band"), col("bh"))
      .write.mode("overwrite").parquet(path + "/bands")
    import spark.implicits._
    Seq((shingleK, numHashes, bands))
      .toDF("shingle_k", "num_hashes", "num_bands")
      .coalesce(1).write.mode("overwrite").parquet(path + "/params")
  }

  /** The stored sets/ table as (__id, __sh), tombstones not applied. */
  private def storedSets(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path + "/sets")
      .select(col("id").as("__id"), col("shingles").as("__sh"))

  /** The stored (shingleK, numHashes, numBands), read by column name. */
  private def storedGeometry(
      spark: org.apache.spark.sql.SparkSession, path: String): (Int, Int, Int) = {
    val p = spark.read.parquet(path + "/params").head()
    (p.getAs[Int]("shingle_k"), p.getAs[Int]("num_hashes"), p.getAs[Int]("num_bands"))
  }

  /** Append a batch's documents into a persisted index — the
    * write-back half of the production loop: dedup today's batch
    * against the index, keep the survivors, fold them in so tomorrow's
    * batch dedups against them too. The batch is indexed by
    * [[buildMinhashIndexMaterialized]] at the index's stored geometry
    * and written by the append body [[appendFromIndex]] shares; the
    * existing corpus rows are neither read nor rewritten (parquet
    * append of the new files only). The build's checkpoints run before
    * the append, so a `newDocs` whose plan reads this index (a replay's
    * already-present anti-join) is never read while the append writes
    * into it. Ids must be new to the index.
    */
  def appendToMinhashIndex(
      newDocs: DataFrame, path: String, idCol: String, textCol: String): Unit = {
    val (shingleK, numHashes, bands) = storedGeometry(newDocs.sparkSession, path)
    appendRows(
      buildMinhashIndexMaterialized(newDocs, idCol, textCol, shingleK, numHashes, bands), path)
  }

  /** Append the rows of a built batch index for the given ids: a
    * caller that already built the batch's index for a probe/self-dedup
    * pass appends its survivors from it without shingling them again.
    * `ids`' first column names the ids to keep.
    */
  private[graft] def appendFromIndex(
      batch: MinhashIndex, ids: DataFrame, path: String): Unit = {
    // keep-ids are a bounded batch id list — broadcast both semi-joins
    // so the append never exchanges the batch frames
    val keep = broadcast(ids.select(col(ids.columns.head).as("__kid")))
    def kept(df: DataFrame) = df.join(keep, df("__id") === col("__kid"), "left_semi")
    appendRows(batch.copy(bands = kept(batch.bands), sets = kept(batch.sets)), path)
  }

  /** The one append body: check the batch geometry against the stored
    * params, then append the batch's bands/ and sets/ rows.
    */
  private def appendRows(batch: MinhashIndex, path: String): Unit = {
    require((batch.shingleK, batch.numHashes, batch.numBands) ==
      storedGeometry(batch.bands.sparkSession, path),
      s"index append geometry mismatch vs stored params at $path")
    batch.bands.select(col("__id").as("id"), col("band"), col("bh"))
      .write.mode("append").parquet(path + "/bands")
    batch.sets.select(col("__id").as("id"), col("__sh").as("shingles"))
      .write.mode("append").parquet(path + "/sets")
  }

  /** Load a persisted index; the stored params travel with the data so
    * a batch probe can never band with mismatched hash geometry.
    */
  def readMinhashIndex(spark: org.apache.spark.sql.SparkSession, path: String): MinhashIndex = {
    val (shingleK, numHashes, numBands) = storedGeometry(spark, path)
    val bands0 = spark.read.parquet(path + "/bands")
      .select(col("id").as("__id"), col("band"), col("bh"))
    val sets0 = storedSets(spark, path)
    val tombPath = new org.apache.hadoop.fs.Path(path + "/tombstones")
    val fs = tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (bands, sets) =
      if (fs.exists(tombPath)) {
        // "broadcast fodder, never the index" (deleteFromMinhashIndex
        // scaladoc) — made explicit so the anti-join never exchanges
        // the corpus side
        val tomb = broadcast(spark.read.parquet(path + "/tombstones").select("id"))
        (bands0.join(tomb, bands0("__id") === tomb("id"), "left_anti"),
          sets0.join(tomb, sets0("__id") === tomb("id"), "left_anti"))
      } else (bands0, sets0)
    MinhashIndex(bands, sets, shingleK, numHashes, numBands)
  }

  /** Tombstone ids in a persisted index — the RETRACTION path
    * (takedowns, erasure requests, licence revocation). At 100 TB,
    * rewriting bands/ and sets/ to remove a sliver is a full-index
    * job; a tombstone is an O(|deleted|) parquet append of bare ids,
    * and [[readMinhashIndex]] anti-joins them at load — every
    * downstream consumer (probe, append-then-probe, decontaminate)
    * becomes delete-aware with no further code. Tombstones are
    * PERMANENT for an id: re-adding content requires a new id, or an
    * index compaction that rewrites bands/sets without the tombstoned
    * rows and drops the tombstone set. The anti-join's build side is
    * the tombstone table (bounded by lifetime deletions, broadcast
    * fodder), never the index.
    */
  def deleteFromMinhashIndex(deletedIds: DataFrame, path: String, idCol: String): Unit =
    deletedIds.select(col(idCol).as("id")).distinct()
      .write.mode("append").parquet(path + "/tombstones")

  /** Compact a tombstoned index: rewrite bands/sets WITHOUT the
    * tombstoned rows and drop the tombstone set — the amortization
    * step once deletions accumulate enough that the load-time
    * anti-join (and the dead rows it filters) cost more than one
    * rewrite. The compacted tree is installed by
    * [[graft.operators.VersionedStore.swapTree]], so a crash leaves
    * either the old tree or the new one — never a half-rewritten
    * index; the probe-visible result is identical before and after
    * (ExtSpec pins it).
    */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path + "/tombstones"))) return
    val idx = readMinhashIndex(spark, path) // tombstones already anti-joined
    graft.operators.VersionedStore.swapTree(spark, path)(
      writeSets(idx.sets, _, idx.shingleK, idx.numHashes, idx.numBands))
  }

  /** INCREMENTAL near-dup: pairs (new_id, corpus_id, jaccard) between a
    * new batch and an existing corpus index — the production shape
    * (dedup today's crawl against the historical index). Only the BATCH
    * is shingled/hashed; the corpus side is the stored index. The
    * banded join is strictly cross-side, so corpus×corpus candidates
    * never materialize: per-batch work is O(|new|·bands + matching
    * corpus buckets), not a full self-join re-run. Ids must be distinct
    * across batch and corpus.
    *
    * EAGER: the batch side is [[buildMinhashIndexMaterialized]] at the
    * index's geometry, whose two checkpoint jobs run at call time, so
    * the band join and the verify join read the same materialized batch
    * frames and each batch document is tokenized and signed once.
    */
  def nearDupPairsMinhashAgainstIndex(
      newDocs: DataFrame, idx: MinhashIndex, idCol: String, textCol: String,
      threshold: Double = 0.8): DataFrame =
    nearDupPairsBetweenIndexes(
      buildMinhashIndexMaterialized(newDocs, idCol, textCol,
        idx.shingleK, idx.numHashes, idx.numBands),
      idx, threshold)

  /** The probe half of [[nearDupPairsMinhashAgainstIndex]] taking a
    * built batch index: callers that also need the batch's self-pairs
    * ([[nearDupPairsFromIndex]]) or its index rows for an append build
    * the batch index ONCE and derive every product from it. Geometry
    * must match: banding with mismatched hash parameters would silently
    * find nothing.
    */
  private[graft] def nearDupPairsBetweenIndexes(
      batch: MinhashIndex, idx: MinhashIndex,
      threshold: Double, broadcastBatch: Boolean = false): DataFrame = {
    require(batch.shingleK == idx.shingleK &&
      batch.numHashes == idx.numHashes && batch.numBands == idx.numBands,
      s"index geometry mismatch: batch (${batch.shingleK},${batch.numHashes},${batch.numBands})" +
        s" vs corpus (${idx.shingleK},${idx.numHashes},${idx.numBands})")
    // broadcastBatch: when the probe side is a bounded MICROBATCH (the
    // ingest harnesses — per-batch work is O(|batch|·bands) by
    // contract), broadcast every batch-derived side so the corpus-sized
    // bands/ and sets/ are never exchanged: the candidate join streams
    // idx.bands against a broadcast batch hash table, and the verify
    // join streams idx.sets against the bounded candidate set. Default
    // false — a large batch (corpus refresh) keeps the shuffle join.
    val cands = broadcastIf(broadcastBatch, batch.bands).as("x")
      .join(idx.bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.__id").as("new_id"), col("y.__id").as("corpus_id"))
      .distinct()
    verified(cands, "new_id", "corpus_id", batch.sets, idx.sets, threshold, broadcastBatch)
  }

  /** The exact-Jaccard verify every minhash pair derivation ends in:
    * each candidate pair (aCol, bCol) joins its a-side set from `setsA`
    * and its b-side set from `setsB`, and pairs with Jaccard >=
    * threshold come back as (aCol, bCol, jaccard). `broadcastA`
    * broadcasts the a-side sets and the half-verified candidates (the
    * bounded-microbatch shape), so the b side streams unexchanged.
    */
  private def verified(
      cands: DataFrame, aCol: String, bCol: String,
      setsA: DataFrame, setsB: DataFrame, threshold: Double,
      broadcastA: Boolean): DataFrame =
    broadcastIf(broadcastA, cands
        .join(broadcastIf(broadcastA, setsA.select(col("__id"), col("__sh").as("__sha"))),
          col(aCol) === col("__id"))
        .drop("__id"))
      .join(setsB.select(col("__id"), col("__sh").as("__shb")), col(bCol) === col("__id"))
      .drop("__id")
      .withColumn("__inter", size(array_intersect(col("__sha"), col("__shb"))))
      .withColumn("__union", size(col("__sha")) + size(col("__shb")) - col("__inter"))
      .withColumn("jaccard", col("__inter").cast("double") / col("__union").cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(aCol, bCol, "jaccard")

  private def broadcastIf(on: Boolean, df: DataFrame): DataFrame =
    if (on) broadcast(df) else df

  /** EXACT n-gram contamination flags — the verbatim-leak
    * decontamination rule as a certifiable operator: a training doc is
    * contaminated iff it shares ANY word n-gram with the eval/benchmark
    * corpus. Sharper than [[decontaminate]]'s minhash near-dup rule —
    * one leaked passage flags the doc even when the rest differs
    * entirely (the case similarity thresholds miss). Returns
    * (idCol, n_shared_grams) for contaminated docs only; anti-join it
    * against training to drop them.
    *
    * 100-TB shape: both sides explode to DISTINCT (doc, gram) rows;
    * the eval side is a benchmark corpus — orders of magnitude smaller
    * than training — so its distinct-gram set broadcasts (or
    * bloom-prunes via BloomJoin when it doesn't fit); then one keyed
    * equi-join on the raw gram string and a partial-combined per-doc
    * count. Raw strings, no hashing: both engines join the identical
    * grams, so the flags row-certify with no pinned values.
    */
  def ngramContaminated(
      training: DataFrame, evalDocs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val (tr, ev) = gramSides(training, evalDocs, idCol, textCol, n)
    tr.join(ev, Seq("__g"))
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** The two gram frames of the n-gram contamination operators:
    * training (__id, __g) rows and the eval side's distinct __g set.
    */
  private def gramSides(
      training: DataFrame, evalDocs: DataFrame, idCol: String, textCol: String,
      n: Int): (DataFrame, DataFrame) = {
    require(n >= 1, s"n must be >= 1, got $n")
    // explode_OUTER + null filter on the generator output, NOT plain
    // explode: InferFiltersFromGenerate infers size/isnotnull on the
    // shingle array from a non-outer explode and pushdown re-inlines
    // the WHOLE shingle chain (re-tokenizing per element_at) into the
    // pre-Exchange filter — measured 35 s → 1.4 s at sf0.1 (the
    // no-CSE pushdown note in [[bandedOf]])
    val tr = shingled(training, idCol, textCol, n)
      .select(col("__id"), explode_outer(col("__sh")).as("__g"))
      .filter(col("__g").isNotNull)
    val ev = shingled(evalDocs, idCol, textCol, n)
      .select(explode_outer(col("__sh")).as("__g"))
      .filter(col("__g").isNotNull).distinct()
    (tr, ev)
  }

  /** [[ngramContaminated]]'s scaled form — the "bloom-prunes via
    * BloomJoin" promise above made real: when the eval gram set is
    * too large to broadcast (a full benchmark SUITE against a 100-TB
    * training corpus), build a compact Bloom filter over the eval
    * grams (a few MB regardless of either side's size, one
    * partial-aggregable pass) and prune the training gram stream with
    * it BEFORE the join shuffle; the exact semi join then removes
    * Bloom false positives. False negatives are impossible, so the
    * result is IDENTICAL to [[ngramContaminated]] — certified against
    * the same oracle VERBATIM (q333 reuses q222's). What changes is
    * shuffle volume: only grams that plausibly leaked ever leave the
    * training side's map tasks.
    */
  def ngramContaminatedBloom(
      training: DataFrame, evalDocs: DataFrame, idCol: String, textCol: String,
      n: Int, expectedItems: Long = 1000000L,
      numBits: Long = 8388608L): DataFrame = {
    val (tr, ev) = gramSides(training, evalDocs, idCol, textCol, n)
    graft.operators.BloomJoin.bloomSemiJoin(tr, "__g", ev, "__g",
        expectedItems, numBits)
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Benchmark decontamination: remove from TRAINING every doc that is
    * a near-duplicate of an EVAL/benchmark doc — the step that keeps
    * held-out benchmarks honest (a benchmark passage that survives in
    * the training corpus inflates eval scores). Shape: index the
    * training side once, probe with the (small) eval set, anti-join the
    * hits out — the training corpus is scanned once for the index and
    * once for the anti-join; the eval set drives all candidate work, so
    * cost scales with |eval|·bands, not |training|².
    *
    * EAGER: both sides are built by [[buildMinhashIndexMaterialized]]
    * (the training index here, the eval batch in
    * [[nearDupPairsMinhashAgainstIndex]]), so their four checkpoint jobs
    * run at call time and each document is tokenized and signed once.
    */
  def decontaminate(
      training: DataFrame, evalDocs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8): DataFrame = {
    val idx = buildMinhashIndexMaterialized(training, idCol, textCol, shingleK, numHashes, bands)
    val hits = nearDupPairsMinhashAgainstIndex(evalDocs, idx, idCol, textCol, threshold)
      .select(col("corpus_id").as(idCol)).distinct()
    training.join(hits, Seq(idCol), "left_anti")
  }

  /** Near-duplicate pairs by minhash-LSH with exact n-gram-Jaccard
    * verification. Returns (doc_a, doc_b, jaccard) for verified pairs
    * with Jaccard >= threshold, doc_a < doc_b.
    *
    * This is [[nearDupPairsFromIndex]] over
    * [[buildMinhashIndexMaterialized]]: the band self-join's two sides
    * and the two verify joins all read the materialized index, so each
    * document is tokenized, shingled and signed once. EAGER: the call
    * runs the index's two local checkpoint jobs before it returns (the
    * builder's scaladoc states the lineage trade).
    *
    * With bands=32 × rowsPerBand=4 (128 hashes) the probability of
    * missing a pair at similarity s is (1-s^4)^32 — ~1e-15 at s=0.9 —
    * so at thresholds below the corpus's near-dup band the candidate
    * set is effectively exhaustive while doing no all-pairs work.
    */
  def nearDupPairsMinhash(
      docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8): DataFrame =
    nearDupPairsFromIndex(
      buildMinhashIndexMaterialized(docs, idCol, textCol, shingleK, numHashes, bands),
      threshold)

  /** Candidate-recall probability of banded minhash at Jaccard s with
    * b bands of r rows: 1 − (1 − s^r)^b — the public LSH S-curve
    * (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets §3.4).
    */
  def minhashRecallAt(s: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  /** Banding advisor (the `SimSearch.lshParamsForTau` discipline on
    * the minhash side): among the (bands, rows) factorizations of
    * `numHashes`, pick the one whose miss probability at the target
    * threshold stays under `missTarget` while minimizing background
    * candidates — i.e. the LARGEST rows-per-band that still recalls τ.
    * Bigger rows ⇒ the S-curve steepens and sub-threshold pairs stop
    * colliding (each band is an r-way AND); more bands ⇒ recall rises
    * (b-way OR) but every band is another self-join's worth of
    * candidate buckets. The engine-wide default (128 hashes, τ=0.8)
    * resolves to (32, 4) — the parameters q18/q55/q79/q87/q89/q186/
    * q189 run with are this function's output, not a hand-pin.
    */
  def minhashParamsForTau(
      numHashes: Int, tau: Double, missTarget: Double = 1e-4): (Int, Int) = {
    require(numHashes > 0 && tau > 0 && tau < 1)
    val options = (1 to numHashes)
      .filter(numHashes % _ == 0)
      .map(r => (numHashes / r, r)) // (bands, rows)
      .filter { case (b, r) => 1.0 - minhashRecallAt(tau, b, r) <= missTarget }
    require(options.nonEmpty,
      s"no factorization of $numHashes hashes recalls tau=$tau at miss<=$missTarget")
    options.maxBy(_._2) // hardest pruning that still meets the recall bar
  }

  /** Corpus-INTERNAL near-dup pairs derived from an existing index,
    * without re-shingling/re-hashing the corpus: the banded self-join
    * runs on the index's bands and the exact-Jaccard verify on its
    * sets ([[nearDupPairsMinhash]] is this over a freshly built
    * index). The composition win: a pipeline that builds
    * the index for batch probes (q89/q186/q189 shape) gets the
    * old-old pairs for ONE band self-join instead of a second full
    * scan-side pass — at 100 TB, the scan-side minhash IS the
    * dominant cost, so deriving both products from one pass matters.
    */
  def nearDupPairsFromIndex(idx: MinhashIndex, threshold: Double = 0.8,
      broadcastIndex: Boolean = false): DataFrame = {
    // broadcastIndex: for the ingest harnesses' BATCH self-dedup the
    // "index" is the bounded microbatch's own frames — broadcast them so
    // the self-join and both verify joins plan as broadcast-hash with no
    // exchange. Default false: the corpus-internal pair derivation
    // (q186/q189 old-old pairs) stays a shuffle self-join, the only
    // shape that scales to a full index.
    val cands = idx.bands.as("x")
      .join(broadcastIf(broadcastIndex, idx.bands.as("y")),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("doc_a"), col("y.__id").as("doc_b"))
      .distinct()
    verified(cands, "doc_a", "doc_b", idx.sets, idx.sets, threshold, broadcastIndex)
  }

  /** Boundary-duplicate detection — the SPLIT-document case the
    * whole-document dedup family misses: a crawl/chunking pipeline that
    * cut one logical document into two records leaves doc A's last k
    * tokens equal to doc B's first k. Whole-doc minhash/simhash won't
    * pair them (the halves share only the seam), so this is its own
    * detector: fingerprint each doc's head and tail k-token windows
    * (md5 over the space-joined tokens) and equi-join tail-fp ==
    * head-fp.
    *
    * Shape: two per-row projections + ONE fingerprint-keyed equi-join —
    * O(n) shuffle rows of 32-char hashes, never text; candidates are
    * exact seam matches (no verify stage needed — the fingerprint IS
    * the k-token seam). Docs with fewer than 2k tokens are excluded
    * (head and tail must not overlap, or a short doc pairs with
    * itself-shaped seams).
    *
    * STOP-SEAM GUARD (the ngramJaccardPairs lesson, re-learned from the
    * scale probe: sf0.1 already has 892 seam pairs): a seam shared by F
    * tails and G heads fans the join out F·G — a corpus-common
    * boilerplate opening ("thank you for reading …") is quadratic in
    * its popularity. Fingerprints occurring more than `maxSeamDf` times
    * ON EITHER SIDE are dropped before the join (two tiny fp-keyed
    * count aggregates), bounding per-seam work at maxSeamDf² and
    * mirroring how a popular seam is boilerplate, not a split document.
    *
    * Returns (tail_doc, head_doc): tail_doc's ending = head_doc's
    * beginning, i.e. read tail_doc then head_doc.
    */
  def boundaryDupPairs(
      df: DataFrame, idCol: String, textCol: String, k: Int,
      maxSeamDf: Long = 100L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxSeamDf >= 1, s"maxSeamDf must be >= 1, got $maxSeamDf")
    val fps = df
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .filter(size(col("__toks")) >= 2 * k)
      .select(col(idCol),
        md5(concat_ws(" ", slice(col("__toks"), 1, k))).as("head_fp"),
        md5(concat_ws(" ", slice(col("__toks"), -k, k))).as("tail_fp"))
    val headOk = fps.groupBy(col("head_fp").as("__fp"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxSeamDf)
      .select(col("__fp"))
    val tailOk = fps.groupBy(col("tail_fp").as("__fp"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxSeamDf)
      .select(col("__fp"))
    val ok = headOk.intersect(tailOk)
    fps.as("a").join(ok.as("ta"), col("a.tail_fp") === col("ta.__fp"))
      .select(col(s"a.$idCol").as("__tid"), col("a.tail_fp"))
      .join(fps.as("b").join(ok.as("hb"), col("b.head_fp") === col("hb.__fp"))
          .select(col(s"b.$idCol").as("__hid"), col("b.head_fp")),
        col("tail_fp") === col("head_fp") && col("__tid") =!= col("__hid"))
      .select(col("__tid").as("tail_doc"), col("__hid").as("head_doc"))
  }

  /** Exact repeated-SUBSTRING span detection — the n-gram-fingerprint
    * formulation of suffix-style training-data dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): a token position is flagged when its n-token
    * window occurs in ≥ `minDf` DISTINCT documents, and flagged
    * positions merge into maximal repeated spans per document
    * (inclusive 1-based token coordinates). This catches the
    * boilerplate/quote/licence-block repetition that document-level
    * dedup (exact/minhash/simhash above) cannot see, because the
    * containing documents are globally distinct.
    *
    * Scale shape: one shingle explode (O(total tokens) rows), the
    * gram-df aggregate keyed on md5(gram) — fixed 32-byte keys cross
    * the shuffle, never raw n-gram strings (at n=8+ a gram is ~50-100+
    * bytes; md5 bounds the exchange width, is available in DuckDB for
    * oracle parity, and 128-bit collisions are negligible) — then a
    * semi join back and a per-doc windowed merge bounded by doc
    * length. No all-pairs term anywhere: at 100 TB the df aggregate is
    * the only corpus-scale shuffle and it partial-aggregates map-side.
    * Distinct-doc counting is exact here; swap `countDistinct` for a
    * datasketches HLL + a df band when the gram dictionary itself is
    * shuffle-hot (the q62 contract pattern).
    *
    * Spans merge on OVERLAP (start ≤ running max end), the
    * [[graft.operators.Intervals.coalesceIntervals]] convention: two
    * flagged windows at positions p and p+k overlap iff k < n. Output:
    * (id, span_seq, span_start, span_end, n_merged) per merged span —
    * n_merged is the count of flagged windows inside the span.
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Int): DataFrame = {
    require(n >= 2, s"window must span tokens, got n=$n")
    require(minDf >= 2, s"a repeat needs at least 2 docs, got minDf=$minDf")
    // __toks MUST be a materialized column (q105's pattern), not an
    // expression inlined into shingles(): transform()'s lambda captures
    // its token-array operand, and an inlined tokens() re-runs the
    // regex per element_at — 8 re-tokenizations per position, measured
    // 17.6 s vs 0.7 s for the explode at sf0.1 (the expression-tree
    // duplication postmortem, BASELINE.md).
    // repartition by doc id BEFORE the tokenize/shingle/md5 work (the
    // `shingled` rule: on a single-split corpus the whole n-gram scan
    // would otherwise run on one task)
    val pos = docs
      .select(col(idCol), col(textCol))
      .repartition(col(idCol))
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .select(col(idCol), posexplode(
          TextAnalysis.shingles(col("__toks"), n))
        .as(Seq("__p0", "__gram")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("__s"),
        md5(col("__gram")).as("__g"))
    val hot = pos.groupBy("__g")
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDf)
      .select("__g")
    val hits = pos.join(hot, Seq("__g"), "left_semi")
      .select(col(idCol), col("__s"), (col("__s") + (n - 1)).as("__e"))
    graft.operators.Intervals.coalesceIntervals(hits, idCol, "__s", "__e")
  }

  /** CORPUS-WIDE exact paragraph dedup, keep-first (the CCNet/Dolma
    * paragraph-dedup step): every paragraph occurrence except its
    * globally first — ordered by (doc, position) — is dropped, and
    * each document is rebuilt from its surviving paragraphs in
    * original order (re-joined with a canonical `\n\n`; `\n{3,}`
    * separators do not round-trip). Within-doc repeats dedup too.
    * Every input doc gets exactly one output row — a doc whose every
    * paragraph occurred earlier comes back with n_kept=0 and
    * text_dedup=''.
    *
    * Paragraphs are `\n\n+`-separated nonempty blocks. CONTRACT: ids
    * are nonnegative and < 2^43, and a doc has < 2^20 paragraphs —
    * (id, pos) packs into one LONG so the keep-first argmin is a
    * primitive-buffer hash aggregate (max_by/min-struct falls off
    * HashAggregateExec; BASELINE.md round-12).
    *
    * Scale shape: shuffles at (paragraph-hash) grain for the argmin
    * and at doc grain for the rebuild — never corpus² and no global
    * sort; group sizes are bounded by the hottest paragraph's
    * occurrence count (the argmin is a partial-aggregable min, so
    * map-side combine collapses hot keys before the exchange). The
    * exploded frame feeds the argmin and the keep join and is
    * localCheckpoint'd once.
    */
  def dedupParagraphsCorpus(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val paras = filter(
      split(coalesce(col(textCol), lit("")), "\n\n+"), p => p =!= "")
    val ex = df
      .select(col(idCol), posexplode(paras).as(Seq("__pos", "__para")))
      .withColumn("__fp", md5(col("__para")))
      .withColumn("__enc",
        col(idCol).cast("long") * 1048576L + col("__pos"))
      .localCheckpoint()
    val firsts = ex.groupBy(col("__fp"))
      .agg(min(col("__enc")).as("__keep"))
    val kept = ex.join(firsts, Seq("__fp"))
      .where(col("__enc") === col("__keep"))
    val rebuilt = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_kept"),
      concat_ws("\n\n", transform(
        array_sort(collect_list(struct(col("__pos"), col("__para")))),
        s => s.getField("__para"))).as("text_dedup"))
    df.select(col(idCol), size(paras).cast("long").as("n_paras"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** C4's THREE-SENTENCE-SPAN corpus dedup (Raffel et al. 2020 §2.2's
    * "deduplicate three-sentence spans" — the span-grain complement to
    * [[dedupParagraphsCorpus]]'s paragraph grain): every sliding
    * `span`-sentence window is fingerprinted corpus-wide; each
    * fingerprint's FIRST occurrence (global (doc, pos) argmin, packed
    * into one long — the q261 primitive-buffer idiom, partial-
    * aggregable so hot spans map-side combine) keeps its sentences;
    * every LATER occurrence's sentences are removed, and each doc is
    * rebuilt from its surviving sentences in order.
    *
    * Sentence semantics come from [[TextAnalysis.sentences]]. A
    * sentence is removed iff ANY duplicate (non-first) span occurrence
    * covers it — so a doc's unique tail survives even when its head is
    * a copied block, and a 2-sentence overlap is NOT enough (every
    * span containing a unique sentence is unique). Docs with fewer
    * than `span` sentences have no spans and pass through whole.
    * Every input doc yields exactly one row: (idCol, n_sents, n_kept,
    * text_dedup) — all-removed docs come back n_kept=0/''.
    *
    * 100-TB shape: shuffle keys are span fingerprints (md5) and
    * (doc, sentence-index) pairs — never doc², never corpus-wide
    * groups beyond one fingerprint's occurrence list; the base and
    * span frames each feed two consumers and are localCheckpoint'd
    * once. CONTRACT: ids are nonnegative and < 2^43, and sentence
    * positions < 2^20 per doc (the pack widths — an id ≥ 2^43
    * overflows the long multiply, an ANSI throw at runtime, and
    * negative ids break keep-first ordering; same contract as
    * [[dedupParagraphsCorpus]]).
    */
  def dedupSentenceSpans(
      df: DataFrame, idCol: String, textCol: String,
      span: Int = 3,
      segmenter: Column => Column =
        graft.ext.TextAnalysis.sentences): DataFrame = {
    require(span >= 2, s"span must be >= 2: $span")
    val base = df
      .select(col(idCol), segmenter(col(textCol)).as("__sents"))
      .localCheckpoint()
    val emptySpans =
      array().cast("array<struct<__pos:int,__sp:string>>")
    val spansCol = when(size(col("__sents")) >= span,
      transform(sequence(lit(0), size(col("__sents")) - span), i =>
        struct(i.cast("int").as("__pos"),
          concat_ws(" ",
            (1 to span).map(j => element_at(col("__sents"), i + j)): _*)
            .as("__sp"))))
      .otherwise(emptySpans)
    val ex = base.select(col(idCol), explode(spansCol).as("__w"))
      .select(col(idCol), col("__w.__pos").as("__pos"),
        md5(col("__w.__sp")).as("__fp"))
      .withColumn("__enc", col(idCol).cast("long") * 1048576L + col("__pos"))
      .localCheckpoint()
    val firsts = ex.groupBy(col("__fp")).agg(min(col("__enc")).as("__keep"))
    val removed = ex.join(firsts, Seq("__fp"))
      .where(col("__enc") =!= col("__keep"))
      .select(col(idCol),
        explode(sequence(col("__pos"), col("__pos") + (span - 1)))
          .as("__si"))
      .distinct()
    val sentRows = base
      .select(col(idCol), posexplode(col("__sents")).as(Seq("__si", "__s")))
    val rebuilt = sentRows.join(removed, Seq(idCol, "__si"), "left_anti")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__si"), col("__s")))),
          s => s.getField("__s"))).as("text_dedup"))
    base.select(col(idCol), size(col("__sents")).cast("long").as("n_sents"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_sents"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** SEMANTIC dedup over an embedding column (the SemDeDup shape,
    * Abbas et al. 2023, arXiv:2303.09540): cluster the corpus at
    * anchor grain with the IVF coarse quantizer
    * ([[SimSearch.buildIvfIndex]] — sampling + optional Lloyd), form
    * near-dup edges ONLY within each cluster (cosine >= tau), fold
    * them into components ([[ConnectedComponents.dedupClusters]]),
    * keep one document per component. The within-cluster restriction
    * is the scale trick: per-cluster all-pairs is
    * O(n²/nlist) per cluster in expectation, never a corpus-wide
    * product — at 100 TB the cluster key is the shuffle key and each
    * cluster's pair generation is local to its partition group.
    *
    * CONTRACT (what the within-cluster restriction trades away): a
    * cross-cluster pair at cosine >= tau is NOT found — the paper's
    * posture (duplicates land in the same k-means cell "almost
    * always"); q310 certifies the composition against BRUTE-FORCE
    * truth on a corpus whose duplicate groups are scalar multiples
    * (power-of-2 scaling, so every copy's cosine to EVERY vector —
    * anchors included — is bit-identical to its base's and the group
    * provably cannot split across clusters) and whose natural pair
    * cosines top out at ~0.51 vs tau 0.9 (measured both SFs).
    *
    * Returns one row per input doc: (idCol, keep_id, n_members,
    * is_dup) — `keep_id` the component's min id (the
    * [[ConnectedComponents.dedupClusters]] representative; compose
    * with [[ConnectedComponents.canonicalPerCluster]] for a scored
    * keeper), `n_members` the component size, `is_dup` true on every
    * non-representative. Output never carries the anchor id — anchor
    * identity depends on the quantizer sample and is not part of the
    * semantic contract.
    */
  def semDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, tau: Double, lloydIters: Int = 1,
      seed: Long = 7L): DataFrame = {
    require(nlist >= 1 && tau > 0 && tau <= 1.0001,
      s"bad semDedup params: nlist=$nlist tau=$tau")
    semDedupWithIndex(SimSearch.buildIvfIndex(
      corpus, idCol, vecCol, nlist, seed, lloydIters), corpus, idCol, tau)
  }

  /** [[semDedup]] against a CALLER-OWNED quantizer — the seam the
    * incremental lifecycle needs: build (or load) the index ONCE and
    * hand the SAME one to both the full pass and
    * [[semDedupIncremental]], so the quantizer behind `oldAssign`
    * and the one the batch assigns against cannot drift (round-15
    * review fix — q315 previously rebuilt the index, hand-copying
    * semDedup's seed/lloydIters defaults).
    */
  def semDedupWithIndex(
      idx: SimSearch.IvfIndex, corpus: DataFrame, idCol: String,
      tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1.0001, s"bad semDedup tau: $tau")
    // one materialization: the lists feed pair generation below; the
    // trained-artifact checkpoint rule (buildIvfPq postmortem — a lazy
    // assignment re-executes per consumer)
    val members = idx.lists
      .select(col("__cid"), col("neighbor_id").as("__id"),
        col("__cv2").as("__v"))
      .localCheckpoint()
    val pairs = members.as("a")
      .join(members.as("b"),
        col("a.__cid") === col("b.__cid") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("src"), col("b.__id").as("dst"),
        SimSearch.cosineSim(col("a.__v"), col("b.__v")).as("__cos"))
      .filter(col("__cos") >= tau)
      .select("src", "dst")
    ConnectedComponents.dedupClusters(
        corpus.select(col(idCol)), idCol, pairs, "src", "dst")
      .select(col(idCol), col("cluster").as("keep_id"),
        col("cluster_size").as("n_members"),
        (!col("is_representative")).as("is_dup"))
  }

  /** INCREMENTAL SemDeDup — fold a NEW batch into an existing
    * [[semDedup]] assignment without re-clustering the corpus (the
    * q89/q174/q186 lifecycle discipline on the semantic-dedup arc):
    * assign the batch to the EXISTING quantizer's anchors (the
    * bounded broadcast argmax — at scale `idx` is loaded from the
    * store, never rebuilt), generate batch↔old pairs against the
    * stored inverted lists and batch↔batch pairs within clusters
    * (cosine ≥ tau, cluster-keyed equi-joins), and fold them via
    * [[ConnectedComponents.incrementalClusters]] — cost
    * O(|batch| · avg-cluster + members of TOUCHED clusters), never
    * O(corpus).
    *
    * CONTRACT: batch ids are DISJOINT from the old corpus's; using
    * the OLD quantizer means a batch document lands in the cluster
    * its old near-dups live in exactly when its cosine profile
    * matches theirs (the same almost-always posture as [[semDedup]]
    * itself — q315 certifies equality with the FULL recompute on the
    * planted corpus, where the argument is exact). `oldAssign` and
    * the result are both in [[semDedup]]'s output shape
    * (idCol, keep_id, n_members, is_dup).
    */
  def semDedupIncremental(
      idx: SimSearch.IvfIndex, oldAssign: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, tau: Double): DataFrame =
    semDedupIncrementalAssigned(idx, oldAssign,
      SimSearch.assignToAnchors(batch, idx.anchors, idCol, vecCol)
        .localCheckpoint(),
      idCol, tau)

  /** [[semDedupIncremental]] taking the batch ALREADY coarse-assigned
    * — rows in [[SimSearch.assignToAnchors]]'s output shape
    * (id, vec, cid), caller-materialized. The ingest harnesses need
    * the identical assignment twice per wave (the fold here AND the
    * wave's persisted list delta); assigning once and passing the rows
    * runs the crossJoin-argmax once instead of once per consumer (the
    * q189 one-pass rule on the semantic arc).
    *
    * Join strategy (guide §3.1): the batch side is BOUNDED by the
    * operator's own cost contract (O(|batch|·avg-cluster), a
    * microbatch — never the corpus), so the batch↔stored-lists and
    * batch↔batch pair joins broadcast the batch side outright — the
    * stored inverted lists (the corpus-sized side) are never
    * exchanged by the fold.
    */
  def semDedupIncrementalAssigned(
      idx: SimSearch.IvfIndex, oldAssign: DataFrame, assigned: DataFrame,
      idCol: String, tau: Double): DataFrame = {
    val bm = assigned.select(col("id").as("__bid"), col("vec").as("__bv"),
      col("cid").as("__cid"))
    val old = idx.lists.select(col("__cid"),
      col("neighbor_id").as("__oid"), col("__cv2").as("__ov"))
    // crossPairs feeds incrementalClusters TWICE (the touched-cluster
    // draw and the edge union) — left lazy, the batch×stored-list
    // cosine join would run per consumer
    val crossPairs = broadcast(bm).join(old, Seq("__cid"))
      .filter(SimSearch.cosineSim(col("__bv"), col("__ov")) >= tau)
      .select(col("__bid"), col("__oid"))
      .localCheckpoint()
    val batchPairs = bm.as("a")
      .join(broadcast(bm.as("b")),
        col("a.__cid") === col("b.__cid") && col("a.__bid") < col("b.__bid"))
      .filter(SimSearch.cosineSim(col("a.__bv"), col("b.__bv")) >= tau)
      .select(col("a.__bid").as("pa"), col("b.__bid").as("pb"))
    val assignShape = oldAssign.select(col(idCol),
      col("keep_id").as("cluster"), col("n_members").as("cluster_size"),
      (!col("is_dup")).as("is_representative"))
    ConnectedComponents.incrementalClusters(
        assignShape, idCol, bm.select(col("__bid").as(idCol)),
        crossPairs, "__bid", "__oid", batchPairs, "pa", "pb")
      .select(col(idCol), col("cluster").as("keep_id"),
        col("cluster_size").as("n_members"),
        (col(idCol) =!= col("cluster")).as("is_dup"))
  }
}
