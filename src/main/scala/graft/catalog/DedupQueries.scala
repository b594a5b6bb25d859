package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, SimHash, TextAnalysis}

import Shared._

/** Exact, MinHash, SimHash and semantic dedup: clustering, incremental
  * index folds, span and content-defined-chunk dedup.
  */
object DedupQueries {

  /** q310/q313 SHARED SemDeDup fixture (one builder so the min-id and
    * scored-keeper variants cannot drift): the embeddings corpus plus
    * power-of-2 scalar-multiple copies (×2 at %7 → +100000, ×4 at
    * %14 → +200000) — float-exact in both engines, so every copy's
    * cosine to every vector is bit-identical to its base's (the
    * cannot-split-across-clusters argument lives at q310/Dedup
    * .semDedup).
    */
  private def semCorpus(base0: DataFrame): DataFrame = {
    val base = base0.select(col("vec_id"), col("embedding"))
    def scaled(k: Float, off: Long, m: Long) = base
      .filter(col("vec_id") % m === 0)
      .select((col("vec_id") + off).as("vec_id"),
        transform(col("embedding"), x => x * lit(k)).as("embedding"))
    base.unionByName(scaled(2.0f, 100000L, 7L))
      .unionByName(scaled(4.0f, 200000L, 14L))
      .repartition(32, col("vec_id"))
  }

  /** q310/q313 SHARED SemDeDup oracle CTE chain (brute-force truth:
    * all-pairs cosine + recursive-CTE components — never sees the
    * clustering): ends at `assigned(vec_id, keep_id)`.
    */
  private val SemDedupCcCtes: String =
    """WITH RECURSIVE corpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000,
      |    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 2 AS FLOAT))
      |  FROM embeddings WHERE vec_id % 7 = 0
      |  UNION ALL
      |  SELECT vec_id + 200000,
      |    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 4 AS FLOAT))
      |  FROM embeddings WHERE vec_id % 14 = 0),
      |n AS (
      |  SELECT vec_id, embedding,
      |    list_reduce(list_transform(list_zip(embedding, embedding),
      |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (a, b) -> a + b) AS nn
      |  FROM corpus),
      |pairs AS (
      |  SELECT a.vec_id AS pa, b.vec_id AS pb
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id
      |  WHERE list_reduce(list_transform(list_zip(a.embedding, b.embedding),
      |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (x, y) -> x + y)
      |    / sqrt(a.nn * b.nn) >= 0.9),
      |edges AS (SELECT pa AS u, pb AS v FROM pairs UNION SELECT pb, pa FROM pairs),
      |reach(node, r) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
      |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
      |assigned AS (
      |  SELECT c.vec_id, coalesce(cm.component, c.vec_id) AS keep_id
      |  FROM corpus c LEFT JOIN comp cm ON cm.node = c.vec_id)""".stripMargin

  /** q341/q342 shared oracle CTEs — the content-defined chunk table
    * (`chunks`): per-token q48 md5-12-hex hashes, boundary where the
    * low 6 bits are zero, exclusive running boundary count, per-chunk
    * rolling fold with the operator's interpolated constants.
    */
  private def cdcChunksCtes(srcSql: String): String =
    s"""WITH src AS ($srcSql),
       |tok AS (
       |  SELECT doc_id,
       |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t,
       |    generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1)
       |      AS p
       |  FROM src),
       |hh AS (
       |  SELECT doc_id, p,
       |    CAST(list_reduce(list_transform(range(1, 13),
       |      i -> CAST(CASE WHEN ascii(substr(md5(t), i, 1)) <= 57
       |                THEN ascii(substr(md5(t), i, 1)) - 48
       |                ELSE ascii(substr(md5(t), i, 1)) - 87 END AS BIGINT)),
       |      (a, b) -> a * 16 + b) AS BIGINT) AS h
       |  FROM tok),
       |ck AS (
       |  SELECT doc_id, p, h,
       |    coalesce(sum(CASE WHEN h % 64 = 0 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY p
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS chunk_idx
       |  FROM hh),
       |chunks AS (
       |  SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |    CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list(h ORDER BY p)),
       |      (a, b) -> (a * ${graft.ext.TextAnalysis.RollBase} + b)
       |        % ${graft.ext.TextAnalysis.RollMod}) AS BIGINT) AS chunk_fp
       |  FROM ck GROUP BY doc_id, chunk_idx)
       |""".stripMargin

  private val CdcChunksCtes: String =
    cdcChunksCtes("SELECT doc_id, text FROM documents")

  private val CdcChunksSql: String = CdcChunksCtes +
    "SELECT doc_id, chunk_idx, n_tokens, chunk_fp FROM chunks"

  /** Exact cross-side Jaccard, shared verbatim by q79 and q89 — same
    * missing-pair argument as q18 (32×4 bands at J>=0.8 on this corpus's
    * similarity band). q89 is the batch against the whole %5≠0 corpus:
    * append-then-probe must equal build-all-then-probe.
    */
  private val IncDedupPairsSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
      |         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
      |  FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
      |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      |  QUALIFY lead(tok, 2) OVER w IS NOT NULL
      |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS n_id, b.doc_id AS c_id, count(*) AS i
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle
      |    AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
      |  GROUP BY 1, 2)
      |SELECT n_id AS new_id, c_id AS corpus_id,
      |  CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
      |FROM inter JOIN sz sa ON sa.doc_id = n_id JOIN sz sb ON sb.doc_id = c_id
      |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8""".stripMargin

  /** SemDeDup truth shared verbatim by q310 (one-shot), q315 (incremental
    * fold), q316 (streamed ingest), q319 (exactly-once redelivery) and q324
    * (store compaction between waves): each must equal the full
    * recompute bit for bit (the q186 discipline on the semantic arc).
    * BRUTE-FORCE truth over the shared CTE chain; copies via
    * CAST(CAST(x AS DOUBLE) * 2 AS FLOAT) — double-exact then float-exact,
    * the same values Spark's float multiply produces.
    */
  private val SemDedupSql: String =
    (SemDedupCcCtes + "\n" +
      """SELECT vec_id, keep_id,
        |  count(*) OVER (PARTITION BY keep_id) AS n_members,
        |  vec_id <> keep_id AS is_dup
        |FROM assigned""".stripMargin)

  val specs: Seq[QuerySpec] = Seq(

    // ── ext: exact dedup — hash-groupBy on a canonical content hash,
    // deterministic min-id representative (training-data pipeline op) ──
    QuerySpec("q17_dedup_exact", (s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents"), "doc_id", md5(col("text"))),
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin),

    // ── ext: minhash-LSH near-dup — banded bucket join for candidates
    // (never all-pairs), exact 3-gram-Jaccard verification. The oracle
    // computes exact all-pairs Jaccard; with 32 bands × 4 rows the
    // probability of LSH missing a >=0.9-similar pair is ~1e-15, so the
    // outputs coincide (verified on this corpus, whose near-dup band
    // sits entirely at J>=0.9 with nothing in [0.5, 0.9)). ──
    QuerySpec("q18_dedup_minhash", (s, dir) =>
      Dedup.nearDupPairsMinhash(t(s, dir, "documents"), "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.8),
      // Exact all-pairs 3-gram Jaccard — the ground truth the LSH path must
      // reproduce (and does, at this threshold, with ~1e-15 miss probability).
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok, 2) OVER w IS NOT NULL
        |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b,
        |  CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8""".stripMargin),

    // ── ext: simhash near-dup — 48-bit engine-portable simhash (md5
    // feature hashes), 4×12-bit chunk candidates, exact hamming <= 8 ──
    QuerySpec("q21_dedup_simhash", (s, dir) =>
      SimHash.nearDupPairsSimhash(t(s, dir, "documents"), "doc_id", "text",
        shingleK = 3, maxHamming = 8),
      // Engine-portable simhash: md5-hex base-16 folds, floor/mod bit math
      // — every intermediate reproducible in both engines.
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok, 2) OVER w IS NOT NULL
        |), h AS (
        |  SELECT doc_id, list_reduce(list_transform(range(1, 13),
        |    i -> CAST(CASE WHEN ascii(substr(md5(shingle), i, 1)) <= 57
        |              THEN ascii(substr(md5(shingle), i, 1)) - 48
        |              ELSE ascii(substr(md5(shingle), i, 1)) - 87 END AS BIGINT)),
        |    (a, b) -> a * 16 + b) AS h48
        |  FROM sh
        |), bits AS (
        |  SELECT doc_id, j,
        |    CASE WHEN sum(2 * ((h48 // CAST(pow(2, j) AS BIGINT)) % 2) - 1) > 0 THEN 1 ELSE 0 END AS bit
        |  FROM h CROSS JOIN range(0, 48) t(j) GROUP BY 1, 2
        |), sig AS (
        |  SELECT doc_id, CAST(sum(bit * CAST(pow(2, j) AS BIGINT)) AS BIGINT) AS v FROM bits GROUP BY 1
        |), chunk AS (
        |  SELECT doc_id, c, (v // CAST(pow(2, c * 12) AS BIGINT)) % 4096 AS cv
        |  FROM sig CROSS JOIN range(0, 4) t(c)
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |  FROM chunk a JOIN chunk b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
        |), ham AS (
        |  SELECT da, db, CAST(sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        |  FROM cand JOIN bits x ON x.doc_id = da JOIN bits y ON y.doc_id = db AND x.j = y.j
        |  GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b, hamming FROM ham WHERE hamming <= 8""".stripMargin),

    // ── ext: n-gram Jaccard via shingle inverted index (posting-list
    // self-join — candidates share content, never all-pairs), with the
    // corpus-relative stop-shingle cap ACTIVE (1% of docs): posting
    // work is Σ df², so an uncapped hot shingle is quadratic — the cap
    // is the 100-TB shape and the oracle mirrors its integer math ──
    QuerySpec("q34_jaccard_pairs", (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleK = 3, threshold = 0.5, maxShingleDfPermille = Some(10)),
      // Mirrors the ACTIVE df-permille cap: cap = greatest(1, n_docs*10 // 1000),
      // integer arithmetic in both engines — at sf0.01 the cap really
      // prunes (df 6-7 stop-shingles) and shifts jaccard values, so this
      // certifies the capped shape, not the uncapped baseline.
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok, 2) OVER w IS NOT NULL
        |), dfq AS (SELECT shingle, count(*) AS d FROM sh GROUP BY 1),
        |cap AS (SELECT greatest(1, (count(*) * 10) // 1000) AS c FROM documents),
        |posting AS (
        |  SELECT doc_id, shingle FROM sh JOIN dfq USING (shingle)
        |  WHERE d <= (SELECT c FROM cap)
        |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM posting a JOIN posting b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da AS doc_a, db AS doc_b,
        |  CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.5""".stripMargin),

    // ── corpus-wide paragraph dedup, keep-first (Dedup.
    // dedupParagraphsCorpus): four arms — shared-head/unique/shared-
    // tail; within-doc exact repeat (dedups to one); all-shared doc
    // (n_kept=0 unless it is the global first for its residue);
    // shared + unique behind a TRIPLE newline (certifies the \n\n+
    // separator regex and the canonical \n\n rebuild). Keep-first
    // truth is the min (doc,pos) packing; the oracle re-derives it
    // with a window over the raw paragraph strings — a different
    // derivation of the same contract. ──
    QuerySpec("q261_para_dedup", (s, dir) => {
      val id = col("doc_id")
      def pShared(k: Column): Column =
        format_string("shared block %d lorem ipsum dolor", k)
      val u0 = format_string("unique zero %d alpha beta gamma", id)
      val u1 = format_string("unique one %d delta epsilon", id)
      val u3 = format_string("unique three %d zeta eta", id)
      val text = when(id % 4 === 0,
          concat_ws("\n\n", pShared(id % 7), u0, pShared((id + 3) % 7)))
        .when(id % 4 === 1, concat_ws("\n\n", u1, u1))
        .when(id % 4 === 2, pShared(id % 7))
        .otherwise(concat(pShared(id % 7), lit("\n\n\n"), u3))
      graft.ext.Dedup.dedupParagraphsCorpus(
        t(s, dir, "documents").select(id).repartition(32)
          .select(id, text.as("text")),
        "doc_id", "text")
    },
      // paragraph-dedup mirror: same fixture arms, keep-first re-derived
      // with a min() window over raw paragraph strings (the operator
      // packs (id,pos) into a long and hash-argmins), string_agg ORDER
      // BY pos rebuild
      """WITH raw AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'shared block ' || CAST(doc_id % 7 AS VARCHAR)
        |        || ' lorem ipsum dolor' || chr(10) || chr(10)
        |        || 'unique zero ' || CAST(doc_id AS VARCHAR)
        |        || ' alpha beta gamma' || chr(10) || chr(10)
        |        || 'shared block ' || CAST((doc_id + 3) % 7 AS VARCHAR)
        |        || ' lorem ipsum dolor'
        |      WHEN 1 THEN 'unique one ' || CAST(doc_id AS VARCHAR)
        |        || ' delta epsilon' || chr(10) || chr(10)
        |        || 'unique one ' || CAST(doc_id AS VARCHAR)
        |        || ' delta epsilon'
        |      WHEN 2 THEN 'shared block ' || CAST(doc_id % 7 AS VARCHAR)
        |        || ' lorem ipsum dolor'
        |      ELSE 'shared block ' || CAST(doc_id % 7 AS VARCHAR)
        |        || ' lorem ipsum dolor' || chr(10) || chr(10) || chr(10)
        |        || 'unique three ' || CAST(doc_id AS VARCHAR) || ' zeta eta'
        |    END AS text
        |  FROM documents),
        |pl AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\n\n+'),
        |      p -> p <> '') AS ps
        |  FROM raw),
        |exx AS (
        |  SELECT doc_id, unnest(ps) AS para,
        |    generate_subscripts(ps, 1) - 1 AS pos
        |  FROM pl),
        |k AS (
        |  SELECT doc_id, para, pos, doc_id * 1048576 + pos AS enc,
        |    min(doc_id * 1048576 + pos) OVER (PARTITION BY para) AS keep
        |  FROM exx),
        |r AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text_dedup
        |  FROM k WHERE enc = keep GROUP BY doc_id)
        |SELECT pl.doc_id, CAST(len(pl.ps) AS BIGINT) AS n_paras,
        |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(r.text_dedup, '') AS text_dedup
        |FROM pl LEFT JOIN r ON pl.doc_id = r.doc_id""".stripMargin),

    // ── normalized exact dedup (Dedup.dedupExactNormalized over
    // TextAnalysis.normalizeForDedup — the CCNet §4.1 posture): five
    // variant arms per content group (v = id DIV 100 mod 5) that raw
    // exact dedup would treat as five DISTINCT docs — base, all-caps,
    // different two-digit number, accented café + comma-for-period,
    // doubled-space + tab — all normalizing to one string, so the
    // whole group collapses to keep_id = min(id). The group tag is a
    // LETTER run (repeat('x', g+3)), never digits — digit tags would
    // collide post-normalization (every digit → 0). The oracle builds
    // the expected normalized string and group windows from residues;
    // it never normalizes anything. ──
    QuerySpec("q266_norm_dedup", (s, dir) => {
      val id = col("doc_id")
      val v = (id / 100).cast("int") % 5
      val tag = repeat(lit("x"), (id % 100 + 3).cast("int"))
      val d2 = (lit(10) + id % 89).cast("string")
      val base = concat(lit("number 42 alpha cafe "), tag,
        lit(" street. the end"))
      val text = when(v === 0, base)
        .when(v === 1, upper(base))
        .when(v === 2, concat(lit("number "), d2, lit(" alpha cafe "),
          tag, lit(" street. the end")))
        .when(v === 3, concat(lit("number 42 alpha café "), tag,
          lit(" street, the end")))
        .otherwise(concat(lit("number  42\talpha cafe "), tag,
          lit("  street.  the end")))
      graft.ext.Dedup.dedupExactNormalized(
        t(s, dir, "documents").select(id).repartition(32)
          .select(id, text.as("text")),
        "doc_id", "text")
    },
      // norm-dedup mirror: expected normalized string + keep windows
      // from residues — the oracle never normalizes text
      """WITH p AS (
        |  SELECT doc_id, doc_id % 100 AS g FROM documents),
        |n AS (
        |  SELECT doc_id, g,
        |    'number 00 alpha cafe ' || repeat('x', g + 3)
        |      || ' street the end' AS norm_text
        |  FROM p)
        |SELECT doc_id, norm_text,
        |  CAST(min(doc_id) OVER (PARTITION BY g) AS BIGINT) AS keep_id,
        |  CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n_copies,
        |  doc_id <> min(doc_id) OVER (PARTITION BY g) AS is_dup
        |FROM n""".stripMargin),

    // ── SemDeDup — embedding-semantic dedup (Dedup.semDedup: IVF
    // anchor clustering → WITHIN-cluster cosine pairs → components →
    // min-id keep), certified against BRUTE-FORCE truth: the oracle
    // computes ALL-pairs cosine ≥ τ + recursive-CTE components with
    // no knowledge of the clustering, so the within-cluster
    // restriction must lose nothing on this corpus. The planted
    // groups make that provable, not probabilistic: copies are
    // power-of-2 scalar multiples (×2 at %7, ×4 at %14 — float-exact
    // in BOTH engines), so every copy's cosine to every vector is
    // BIT-IDENTICAL to its base's — a group cannot split across
    // clusters (same argmax) and sits at cos≈1 vs τ=0.9, while
    // natural pair cosines top out at ~0.52 (measured, both SFs):
    // a 0.38 margin on both sides of the threshold. ──
    QuerySpec("q310_semdedup", (s, dir) =>
      graft.ext.Dedup.semDedup(semCorpus(t(s, dir, "embeddings")),
        "vec_id", "embedding", nlist = 8, tau = 0.9),
      SemDedupSql),

    // ── SemDeDup with a SCORED keeper (the canonicalPerCluster
    // composition the semDedup scaladoc promises): same clustering
    // and components as q310, but the kept document per component is
    // argmax(score) — score is the q58 md5-hex device (engine-
    // portable, collision-free at this scale), so the keeper is NOT
    // the min id and the window's (score DESC, id ASC) total order
    // is exercised for real. One row per COMPONENT. ──
    QuerySpec("q313_semdedup_canonical", (s, dir) => {
      import graft.ext.{ConnectedComponents, Dedup}
      val corpus = semCorpus(t(s, dir, "embeddings")).localCheckpoint()
      val clusters = Dedup.semDedup(corpus, "vec_id", "embedding",
          nlist = 8, tau = 0.9)
        .select(col("vec_id"), col("keep_id").as("cluster"),
          col("n_members").as("cluster_size"))
      val scored = corpus.select(col("vec_id"),
        substring(md5(concat_ws(":", lit("sem-v1"),
          col("vec_id").cast("string"))), 1, 8).as("score"))
      ConnectedComponents.canonicalPerCluster(
        clusters, "vec_id", scored, "score")
    },
      // scored-keeper mirror: identical CTE chain + the q58 md5-hex
      // score, argmax per component via (score DESC, vec_id) window
      (SemDedupCcCtes + ",\n" +
        """scored AS (
          |  SELECT vec_id, keep_id,
          |    substr(md5(concat_ws(':', 'sem-v1', CAST(vec_id AS VARCHAR))), 1, 8) AS score
          |  FROM assigned),
          |canon AS (
          |  SELECT keep_id AS cluster, vec_id AS canon_id, score,
          |    row_number() OVER (PARTITION BY keep_id ORDER BY score DESC, vec_id) AS rk,
          |    count(*) OVER (PARTITION BY keep_id) AS cluster_size
          |  FROM scored)
          |SELECT cluster, canon_id, score, cluster_size FROM canon WHERE rk = 1""".stripMargin)),

    // ── INCREMENTAL SemDeDup (Dedup.semDedupIncremental — the
    // q89/q174/q186 lifecycle discipline on the semantic arc): the
    // old corpus is clustered once, the batch folds in against the
    // OLD quantizer (bounded anchor broadcast + stored-list joins,
    // never a corpus rescan), and the result must equal q310's FULL
    // recompute — certified against q310's brute-force oracle
    // VERBATIM. The split is engineered so BOTH incremental pair
    // legs are live: batch = every dup-group base (%7 multiples
    // under 100000) plus every ×4 copy (≥200000), so ×2 copies stay
    // old — triple groups bridge batch↔old AND batch↔batch, pair
    // groups bridge batch↔old. ──
    QuerySpec("q315_semdedup_incremental", (s, dir) => {
      import graft.ext.{Dedup, SimSearch}
      val corpus = semCorpus(t(s, dir, "embeddings")).localCheckpoint()
      val isBatch = (col("vec_id") % 7 === 0 && col("vec_id") < 100000L) ||
        col("vec_id") >= 200000L
      val old = corpus.filter(!isBatch)
      val batch = corpus.filter(isBatch)
      // ONE quantizer build, handed to both the full pass and the
      // incremental fold (the semDedupWithIndex seam — at scale:
      // readIvfIndex from the store)
      val idx = SimSearch.buildIvfIndex(old, "vec_id", "embedding",
        nlist = 8, seed = 7L, lloydIters = 1)
      // the old assignment feeds incrementalClusters THREE times
      // (touched draw, member semi-join, untouched anti-join) — the
      // replay harnesses checkpoint their running assignment per wave;
      // this one-shot composition needs the same (round-19 optimization)
      val oldAssign = Dedup.semDedupWithIndex(idx, old, "vec_id", tau = 0.9)
        .localCheckpoint()
      Dedup.semDedupIncremental(idx, oldAssign, batch,
        "vec_id", "embedding", tau = 0.9)
    },
      SemDedupSql),

    // ── STREAMING semantic-dedup ingest (the q190 read→fold→append
    // lifecycle on the SemDeDup arc, q315's operator driven by a
    // LIVE stream): the pre-stream corpus is the pure singletons
    // (non-multiples of 7), wave A carries every dup group's base +
    // ×2 copy, wave B the ×4 copies — B's only partners live in A,
    // so the per-wave INDEX APPEND is load-bearing: skip it and
    // every B row comes back a singleton and the oracle comparison
    // fails. Certified against q310's brute-force oracle VERBATIM
    // (the one-shot full recompute). ──
    QuerySpec("q316_semdedup_stream", (s, dir) =>
      graft.streaming.StreamingReports.semDedupIngestReplay(
        s, semCorpus(t(s, dir, "embeddings")),
        isOld = col("vec_id") % 7 =!= 0 && col("vec_id") < 100000L,
        waveA = col("vec_id") < 200000L,
        nlist = 8, tau = 0.9),
      SemDedupSql),

    // ── EXACTLY-ONCE streaming semantic-dedup ingest (q316's
    // lifecycle under the q99/CDC manifest protocol — round-15
    // forward item closed): every wave folds and publishes (folded
    // assignment + index list delta) under ONE batchId-keyed
    // manifest rename, and after the stream drains the harness
    // RE-DELIVERS wave A verbatim — the crash-redelivery a
    // checkpoint produces. The guard makes it a no-op, so the
    // accumulated assignment must STILL equal q310's one-shot
    // brute-force oracle; StreamingSpec's negative probe folds the
    // same redelivery as a fresh batch (the unguarded pipeline's
    // view) and proves the result breaks. Same wave split as q316,
    // so the cross-wave append path stays load-bearing here too. ──
    QuerySpec("q319_semdedup_exactly_once", (s, dir) =>
      graft.streaming.StreamingReports.semDedupIngestIdempotentReplay(
        s, semCorpus(t(s, dir, "embeddings")),
        isOld = col("vec_id") % 7 =!= 0 && col("vec_id") < 100000L,
        waveA = col("vec_id") < 200000L,
        nlist = 8, tau = 0.9),
      SemDedupSql),

    // ── ingest-store COMPACTION mid-lifecycle (q319's store with
    // the VACUUM step): after wave A commits, compactSemDedupStore
    // folds its delta into the base index, promotes the assignment
    // and drops the version — then wave B folds against the
    // compacted store. B's partners live only in A (the q316 wave
    // split), so the compaction is on the CRITICAL PATH of B's
    // cross-wave pairs: fold the delta down wrong and B's ×4 copies
    // come back singletons. Must still equal q310's one-shot
    // brute-force oracle. ──
    QuerySpec("q324_semdedup_compact_store", (s, dir) =>
      graft.streaming.StreamingReports.semDedupIngestIdempotentReplay(
        s, semCorpus(t(s, dir, "embeddings")),
        isOld = col("vec_id") % 7 =!= 0 && col("vec_id") < 100000L,
        waveA = col("vec_id") < 200000L,
        nlist = 8, tau = 0.9, compactAfterWaveA = true),
      SemDedupSql),

    // ── CONTENT-DEFINED chunking (TextAnalysis.contentDefinedChunks
    // — the Rabin/CDC discipline on the token stream): boundaries
    // fall where the token hash's low 6 bits are zero, so they are
    // decided by LOCAL content, never absolute position — an edit
    // perturbs only its own chunk while fixed-size chunking shifts
    // every downstream chunk (spec-proven both ways). Expected ~64
    // tokens per chunk; per-chunk fp = the order-sensitive rolling
    // fold, so cross-doc shared chunks collide exactly. ──
    QuerySpec("q341_cdc_chunks", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(32, col("doc_id"))
      TextAnalysis.contentDefinedChunks(docs, "doc_id", "text",
        maskBits = 6)
    },
      // cdc-chunk mirror: the q48 md5-12-hex device per token, boundary
      // where h % 64 = 0, running boundary count EXCLUSIVE of the
      // current row, per-chunk list(h ORDER BY p) rolling fold with the
      // operator's interpolated constants
      CdcChunksSql),

    // ── cross-doc SHARED chunks (the storage-dedup report CDC
    // chunking exists to feed): chunk fingerprints appearing more
    // than once across the corpus — each extra copy is a dedup
    // saving. Non-vacuous by construction: the corpus's exact-dup
    // docs (the q17 family) share entire chunk sequences. ──
    QuerySpec("q342_chunk_dedup", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(32, col("doc_id"))
      TextAnalysis.contentDefinedChunks(docs, "doc_id", "text", maskBits = 6)
        .groupBy("chunk_fp")
        .agg(count(lit(1)).as("n_copies"),
          countDistinct(col("doc_id")).as("n_docs"),
          max(col("n_tokens")).as("n_tokens"))
        .filter(col("n_copies") > 1)
    },
      // shared-chunk mirror: the q341 chain re-grouped by fingerprint
      (CdcChunksCtes +
        """SELECT chunk_fp,
          |  CAST(count(*) AS BIGINT) AS n_copies,
          |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          |  CAST(max(n_tokens) AS BIGINT) AS n_tokens
          |FROM chunks GROUP BY 1 HAVING count(*) > 1""".stripMargin)),

    // ── CHUNK-OVERLAP near-dup pairs (TextAnalysis.chunkOverlapPairs
    // — the dedup method CDC chunking feeds): docs pair on chunk-set
    // Jaccard ≥ 1/2, generated through the shared-fingerprint
    // equi-join (docs with no shared chunk never meet). An EDITED
    // copy still shares most chunks because boundaries are
    // content-defined — the insertion-robustness q341's spec proves.
    // The fixture plants edited copies: the %13 dup slice re-appears
    // (q103's re-ingest shape) with ONE token prepended, so every
    // planted pair survives a real edit; exact dups pair at
    // Jaccard 1. ──
    QuerySpec("q343_chunk_overlap_dedup", (s, dir) => {
      val id = col("doc_id")
      val docs0 = t(s, dir, "documents").select(id, col("text"))
      val edited = docs0.filter(id % 13 === 0)
        .select((id + 1000000L).as("doc_id"),
          concat(lit("edited "), col("text")).as("text"))
      val corpus = docs0.unionByName(edited).repartition(32, id)
      TextAnalysis.chunkOverlapPairs(
        TextAnalysis.contentDefinedChunks(corpus, "doc_id", "text",
          maskBits = 6),
        "doc_id", "chunk_fp", tauNum = 1, tauDen = 2)
    },
      // chunk-overlap mirror: the chunk CTEs over the edited-copy
      // corpus (the %13 re-ingest shape with one token prepended),
      // DISTINCT (doc, fp) sets, fp-keyed pair join, integer-crossed
      // Jaccard >= 1/2
      (cdcChunksCtes(
        "SELECT doc_id, text FROM documents UNION ALL " +
          "SELECT doc_id + 1000000, 'edited ' || text " +
          "FROM documents WHERE doc_id % 13 = 0") +
        """,
          |sets AS (SELECT DISTINCT doc_id, chunk_fp FROM chunks),
          |nn AS (SELECT doc_id, count(*) AS n FROM sets GROUP BY 1),
          |m AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |    CAST(count(*) AS BIGINT) AS shared_chunks
          |  FROM sets a JOIN sets b
          |    ON a.chunk_fp = b.chunk_fp AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2)
          |SELECT m.id_a, m.id_b, m.shared_chunks,
          |  CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b
          |FROM m
          |JOIN nn na ON na.doc_id = m.id_a
          |JOIN nn nb ON nb.doc_id = m.id_b
          |WHERE m.shared_chunks * 2 >= na.n + nb.n - m.shared_chunks"""
          .stripMargin)),

    // ── ext: dedup-cluster assignment — the near-dup PAIRS (q18's
    // oracle-certified minhash-LSH) become CLUSTERS via alternating
    // large-star/small-star connected components (O(log n) rounds, no
    // min-label O(diameter) propagation), with a deterministic min-id
    // representative and a left-join closure over the full corpus so
    // singleton docs are their own cluster. "Keep one doc per duplicate
    // cluster" = filter(is_representative). The oracle computes the
    // same components independently via a recursive transitive-closure
    // CTE — feasible there because sf0.01's near-dup graph is small;
    // the Spark side is the form that scales. ──
    QuerySpec("q55_dedup_clusters", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.nearDupPairsMinhash(docs, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.8)
      graft.ext.ConnectedComponents.dedupClusters(docs, "doc_id", pairs, "doc_a", "doc_b")
    },
      // Connected components as a recursive transitive-closure CTE over
      // the q18 near-dup pairs (small graph at oracle scale), min node id
      // per component, left-join closure over all docs for singletons —
      // independently recomputing what the large-star/small-star
      // contraction produces distributed-side.
      FullDedupClustersSql),

    // ── contamination-safe train/val/test split: the draw is keyed on
    // the near-dup CLUSTER representative, so every member of a dup
    // cluster lands in the same split — per-doc random splits leak
    // held-out content through near-duplicates; this is the split shape
    // a training corpus actually needs. Composes minhash-LSH pairs →
    // connected components → md5-threshold assignment ──
    QuerySpec("q85_split_safe", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.nearDupPairsMinhash(docs, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.8)
      // only non-singleton members join; singletons take the own-id
      // fallback — same result, and the map side shrinks from |corpus|
      // to the dup mass (broadcastable at scale)
      val clusters = graft.ext.ConnectedComponents
        .dedupClusters(docs, "doc_id", pairs, "doc_a", "doc_b")
        .filter(col("cluster_size") > 1)
      graft.operators.Sampling.clusterSafeSplit(
          docs.select("doc_id"), "doc_id", clusters,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "split-v1")
        .select("doc_id", "cluster", "split")
    },
      // q55's transitive-closure clusters + the q58/q70 md5 hex-threshold
      // convention on the CLUSTER id ('cccccccc' = 0.8, 'e6666666' = 0.9).
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok, 2) OVER w IS NOT NULL
        |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da AS a, db AS b
        |  FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8),
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        |reach(node, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
        |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
        |assigned AS (
        |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
        |SELECT doc_id, cluster,
        |  CASE
        |    WHEN substr(md5(concat_ws(':', 'split-v1', CAST(cluster AS VARCHAR))), 1, 8) < 'cccccccc' THEN 'train'
        |    WHEN substr(md5(concat_ws(':', 'split-v1', CAST(cluster AS VARCHAR))), 1, 8) < 'e6666666' THEN 'val'
        |    ELSE 'test' END AS split
        |FROM assigned""".stripMargin),

    // ── fuzzy string join (edit distance ≤ 1) via symmetric deletion:
    // candidates from a narrow variant-key equi-join (O(n·L) rows, no
    // cartesian), exact levenshtein verify — typo-level record linkage
    // over customer names; the oracle is the all-pairs form, feasible
    // at its scale ──
    QuerySpec("q66_fuzzy_pairs", (s, dir) =>
      graft.ext.FuzzyJoin.editDistance1Pairs(
        t(s, dir, "customer").filter(col("c_custkey") < 300), "c_name"),
      // All-pairs levenshtein is the independent truth at oracle scale;
      // the Spark side must produce the identical pair set from deletion
      // keys + verify.
      """WITH v AS (
        |  SELECT DISTINCT c_name AS s FROM customer WHERE c_custkey < 300)
        |SELECT a.s AS s_a, b.s AS s_b, levenshtein(a.s, b.s) AS dist
        |FROM v a JOIN v b ON a.s < b.s
        |WHERE levenshtein(a.s, b.s) <= 1""".stripMargin),

    // ── INCREMENTAL near-dup (q18's production shape): today's batch
    // (doc_id % 5 == 0) deduped against the standing corpus via the
    // PERSISTED minhash index — the corpus is shingled ONCE into stored
    // (id, band, bh) + (id, shingles) parquet tables, and the batch
    // path probes the stored index without ever scanning the corpus
    // text again (ExtSpec asserts that). The banded join is strictly
    // cross-side, so corpus×corpus candidates never materialize ──
    QuerySpec("q79_dedup_incremental", (s, dir) => {
      val docs = t(s, dir, "documents")
      // geometry-tagged, CONTENT-keyed path (file names+sizes+mtimes —
      // regenerating the dataset in place invalidates the cache); build
      // once and reuse — the production shape is build-on-compaction,
      // probe per batch, so the bench's median-of-3 measures the probe
      // path (run 1 pays the build; runs 2-3 probe the stored index).
      // IndexStore stages + atomically renames, so no crash can commit
      // a partial index.
      val fp = graft.operators.IndexStore.fingerprint(s"$dir/documents.parquet")
      val idxPath = graft.operators.IndexStore.ensure(
        s"${System.getProperty("java.io.tmpdir")}/graft_mh_idx_${fp}_k3h128b32") { staging =>
        Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 5 =!= 0), staging,
          "doc_id", "text", shingleK = 3, numHashes = 128, bands = 32)
      }
      Dedup.nearDupPairsMinhashAgainstIndex(
        docs.filter(col("doc_id") % 5 === 0), Dedup.readMinhashIndex(s, idxPath),
        "doc_id", "text", threshold = 0.8)
    },
      IncDedupPairsSql),

    // ── the index APPEND path under the oracle: build the stored index
    // from 3/5 of the corpus, fold another fifth in via
    // appendToMinhashIndex (no read/rewrite of existing rows), then
    // probe with the batch. Final semantics == q79 (batch vs the whole
    // %5≠0 corpus), so q79's oracle SQL applies verbatim — what's
    // certified is that append-then-probe equals build-all-then-probe ──
    QuerySpec("q89_idx_append", (s, dir) => {
      val docs = t(s, dir, "documents")
      // the append is NOT idempotent, so the whole build+append runs as
      // ONE staged commit (IndexStore): both steps write into a staging
      // tree that is atomically renamed only after the append completes.
      // A crash between build and append — the round-6 advisor's
      // finding — leaves nothing behind the marker, so the next run
      // rebuilds from scratch instead of silently probing an index
      // missing the appended fifth. Content-keyed like q79.
      val fp = graft.operators.IndexStore.fingerprint(s"$dir/documents.parquet")
      val idxPath = graft.operators.IndexStore.ensure(
        s"${System.getProperty("java.io.tmpdir")}/graft_mh_idxap_${fp}_k3h128b32") { staging =>
        Dedup.writeMinhashIndex(
          docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 4), staging,
          "doc_id", "text", shingleK = 3, numHashes = 128, bands = 32)
        Dedup.appendToMinhashIndex(
          docs.filter(col("doc_id") % 5 === 4), staging, "doc_id", "text")
      }
      Dedup.nearDupPairsMinhashAgainstIndex(
        docs.filter(col("doc_id") % 5 === 0), Dedup.readMinhashIndex(s, idxPath),
        "doc_id", "text", threshold = 0.8)
    },
      IncDedupPairsSql),

    // ── canonical-doc selection: near-dup pairs → connected components
    // → keep the LONGEST member of each cluster (ties: min doc_id) —
    // "which copy do we keep" is the half of dedup that min-id
    // representatives don't answer ──
    QuerySpec("q92_canon", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.nearDupPairsMinhash(docs, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.8)
      val clusters = graft.ext.ConnectedComponents
        .dedupClusters(docs, "doc_id", pairs, "doc_a", "doc_b")
      graft.ext.ConnectedComponents.canonicalPerCluster(
        clusters, "doc_id", docs.select(col("doc_id"), col("n_chars")), "n_chars")
    },
      // q55's transitive-closure component oracle + argmax(n_chars, min
      // doc_id) per cluster; cluster_size is counted BEFORE the argmax
      // filter, like the Spark window.
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok, 2) OVER w IS NOT NULL
        |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da AS a, db AS b
        |  FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8),
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        |reach(node, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
        |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
        |assigned AS (
        |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster
        |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
        |SELECT a.cluster, a.doc_id AS canon_id, d.n_chars,
        |  count(*) OVER (PARTITION BY a.cluster) AS cluster_size
        |FROM assigned a JOIN documents d ON d.doc_id = a.doc_id
        |QUALIFY row_number() OVER (PARTITION BY a.cluster
        |  ORDER BY d.n_chars DESC, a.doc_id) = 1""".stripMargin),

    // ── the ROUND-7 CAPSTONE (q69's successor, built from this
    // round's operators): metadata quality gate → near-dup clustering
    // → CANONICAL keep (argmax n_chars, not min-id) → BALANCED domain
    // mixture (rates in-plan) → exact-N eval holdout per source. One
    // oracle certifies the whole composition. The canonical corpus
    // feeds three consumers (mix counts, mix join, eval rank), so it
    // is checkpointed once — the q69 lesson. ──
    QuerySpec("q104_pipeline_v2", (s, dir) => {
      val docs = t(s, dir, "documents")
      val quality = docs.filter(col("n_chars") >= 200)
      val pairs = Dedup.nearDupPairsMinhash(quality, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.8)
      val clusters = graft.ext.ConnectedComponents
        .dedupClusters(quality, "doc_id", pairs, "doc_a", "doc_b")
      val canon = graft.ext.ConnectedComponents
        .canonicalPerCluster(clusters, "doc_id",
          quality.select(col("doc_id"), col("n_chars")), "n_chars")
        .select(col("canon_id").as("doc_id"))
      val kept = quality.select("doc_id", "source").join(canon, "doc_id")
        .localCheckpoint()
      val mixed = graft.operators.Sampling.balancedMix(
        kept, "source", col("doc_id"), salt = "mix-v2")
      val eval = graft.operators.Sampling.sampleExactN(
          mixed, "source", col("doc_id"), n = 10, salt = "eval-v2")
        .select(col("doc_id"), lit(true).as("__e"))
      mixed.join(eval, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          when(col("__e").isNotNull, "eval").otherwise("train").as("split"))
    },
      // q55's component closure over the quality slice, then this
      // round's operators in sequence: argmax-canonical keep, balanced
      // mix thresholds, exact-N eval rank.
      """WITH RECURSIVE q AS (
        |  SELECT doc_id, text, source, n_chars FROM documents WHERE n_chars >= 200),
        |tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
        |  FROM q),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok, 2) OVER w IS NOT NULL),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |prs AS (
        |  SELECT da AS a, db AS b
        |  FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8),
        |edges AS (SELECT a AS u, b AS v FROM prs UNION SELECT b, a FROM prs),
        |reach(node, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
        |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
        |assigned AS (
        |  SELECT d.doc_id, d.source, d.n_chars,
        |    coalesce(c.component, d.doc_id) AS cluster
        |  FROM q d LEFT JOIN comp c ON c.node = d.doc_id),
        |canon AS (
        |  SELECT doc_id, source FROM assigned
        |  QUALIFY row_number() OVER (PARTITION BY cluster
        |    ORDER BY n_chars DESC, doc_id) = 1),
        |nn AS (SELECT source, count(*) AS n FROM canon GROUP BY 1),
        |m AS (SELECT min(n) AS minn FROM nn),
        |mixed AS (
        |  SELECT c.doc_id, c.source
        |  FROM canon c JOIN nn USING (source) CROSS JOIN m
        |  WHERE nn.n = m.minn
        |     OR substr(md5(concat_ws(':', 'mix-v2', CAST(c.doc_id AS VARCHAR))), 1, 8)
        |        < lpad(lower(hex(CAST(floor(
        |            (CAST(m.minn AS DOUBLE) / CAST(nn.n AS DOUBLE)) * 4294967296.0
        |          ) AS BIGINT))), 8, '0'))
        |SELECT doc_id, source,
        |  CASE WHEN row_number() OVER (PARTITION BY source
        |    ORDER BY substr(md5(concat_ws(':', 'eval-v2', CAST(doc_id AS VARCHAR))), 1, 8),
        |             doc_id) <= 10
        |  THEN 'eval' ELSE 'train' END AS split
        |FROM mixed""".stripMargin),

    // ── split-document seam detection: tail-fingerprint == head-
    // fingerprint equi-join — only 32-char hashes cross the shuffle ──
    QuerySpec("q115_boundary_dups", (s, dir) =>
      Dedup.boundaryDupPairs(t(s, dir, "documents"), "doc_id", "text", k = 3),
      // Head/tail 3-token md5 seams; [1:3] / [-3:] mirror Spark's
      // slice(toks, 1, 3) / slice(toks, -3, 3). The stop-seam guard
      // (df <= 100 on BOTH sides) mirrors boundaryDupPairs' fan-out cap.
      """WITH tk AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    md5(array_to_string(toks[1:3], ' ')) AS head_fp,
        |    md5(array_to_string(toks[-3:], ' ')) AS tail_fp
        |  FROM tk WHERE len(toks) >= 6),
        |ok AS (
        |  SELECT head_fp AS fp FROM f GROUP BY 1 HAVING count(*) <= 100
        |  INTERSECT
        |  SELECT tail_fp AS fp FROM f GROUP BY 1 HAVING count(*) <= 100)
        |SELECT a.doc_id AS tail_doc, b.doc_id AS head_doc
        |FROM f a JOIN f b ON a.tail_fp = b.head_fp AND a.doc_id <> b.doc_id
        |JOIN ok ON ok.fp = a.tail_fp""".stripMargin),

    // ── mergeable minhash set-similarity sketch under its Jaccard
    // contract: exact columns + pinned verdict (oracle can't reproduce
    // xxhash64, it CAN pin the guarantee — q62/q145 pattern) ──
    QuerySpec("q153_minhash_sets_contract", (s, dir) =>
      graft.operators.Profile.minhashSetContract(
        t(s, dir, "events"), "event_type", "user_id", k = 128),
      // Exact set-overlap truth (the q112 shape) + the pinned sketch
      // verdict.
      """WITH s AS (
        |  SELECT DISTINCT event_type AS grp, user_id AS member
        |  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |sz AS (SELECT grp, count(*) AS n FROM s GROUP BY 1),
        |c AS (
        |  SELECT a.grp AS grp_a, b.grp AS grp_b, count(*) AS n_common
        |  FROM s a JOIN s b ON a.member = b.member AND a.grp < b.grp
        |  GROUP BY 1, 2)
        |SELECT sa.grp AS grp_a, sb.grp AS grp_b, sa.n AS n_a, sb.n AS n_b,
        |  COALESCE(n_common, 0) AS n_common,
        |  (COALESCE(n_common, 0) * 1000000)
        |    // (sa.n + sb.n - COALESCE(n_common, 0)) AS jaccard_ppm,
        |  TRUE AS sketch_ok
        |FROM sz sa JOIN sz sb ON sa.grp < sb.grp
        |LEFT JOIN c ON c.grp_a = sa.grp AND c.grp_b = sb.grp""".stripMargin),

    // ── dedup observability: the q18 near-dup pairs attributed to
    // their source pair (order-normalized) — "which sources duplicate
    // each other" ──
    QuerySpec("q157_dup_sources", (s, dir) => {
      val pairs = Dedup.nearDupPairsMinhash(t(s, dir, "documents"),
        "doc_id", "text", shingleK = 3, numHashes = 128, bands = 32,
        threshold = 0.8)
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("__sa")),
          "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("__sb")),
          "doc_b")
        .groupBy(least(col("__sa"), col("__sb")).as("source_a"),
          greatest(col("__sa"), col("__sb")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
    },
      // q18's exact-Jaccard pair truth joined to its sources,
      // order-normalized.
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok, 2) OVER w IS NOT NULL
        |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT da, db
        |  FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8)
        |SELECT least(x.source, y.source) AS source_a,
        |  greatest(x.source, y.source) AS source_b, count(*) AS n_pairs
        |FROM p JOIN documents x ON x.doc_id = da
        |JOIN documents y ON y.doc_id = db
        |GROUP BY 1, 2""".stripMargin),

    QuerySpec("q189_refresh_capstone", (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "source")
      val v2 = docs.filter(col("doc_id") % 11 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(dupSliceArm(docs))
        .localCheckpoint() // feeds diff, old/batch splits, scoring, rollup
      val d = graft.operators.Diff.diff(docs, v2, "doc_id", Seq("text"))
      val batchIds = d.filter(col("status").isin("added", "changed"))
        .select("doc_id").localCheckpoint()
      // batchIds is the bounded refresh delta — broadcast the splits
      val old = v2.join(broadcast(batchIds), Seq("doc_id"), "left_anti")
      val batch = v2.join(broadcast(batchIds), Seq("doc_id"), "left_semi")
      // ONE scan-side minhash pass over the old corpus: the index is
      // checkpointed and BOTH products (old-old pairs, batch probe)
      // derive from it — at 100 TB the shingle/hash scan dominates, so
      // not running it twice is the composition win
      val idx = Dedup.buildMinhashIndexMaterialized(old, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32)
      val oldAssign = graft.ext.ConnectedComponents.dedupClusters(
          old, "doc_id", Dedup.nearDupPairsFromIndex(idx, threshold = 0.8),
          "doc_a", "doc_b")
        .localCheckpoint()
      // ONE batch-side minhash pass too: the index probe and the
      // batch-internal pairs both derive from one checkpointed batch
      // index (nearDupPairsMinhash is the same composition)
      val bIdx = Dedup.buildMinhashIndexMaterialized(batch, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32)
      // the batch side is the bounded fold input (the incremental-batch
      // contract) — broadcast it so neither probe exchanges the corpus
      // index
      val cross = Dedup.nearDupPairsBetweenIndexes(bIdx, idx, threshold = 0.8,
          broadcastBatch = true)
        .localCheckpoint()
      val bp = Dedup.nearDupPairsFromIndex(bIdx, threshold = 0.8,
        broadcastIndex = true)
      val assign = graft.ext.ConnectedComponents.incrementalClusters(
          oldAssign, "doc_id", batchIds,
          cross, "new_id", "corpus_id", bp, "doc_a", "doc_b")
        .localCheckpoint() // feeds canonical AND the rollup join
      val scored = v2.select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("len"))
      val canon = graft.ext.ConnectedComponents.canonicalPerCluster(
        assign, "doc_id", scored.select(col("doc_id"), col("len")), "len")
      assign.join(scored, Seq("doc_id"))
        .join(canon.select(col("canon_id").as("doc_id"), lit(true).as("__c")),
          Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters"),
          sum(when(col("__c"), 1L).otherwise(0L)).as("n_canon"),
          sum(when(col("__c"), col("len"))).as("kept_chars"))
    },
      // Full-recompute truth for the capstone: q103's v2 derivation +
      // q55's exact-Jaccard CC machinery over it + argmax-canonical +
      // per-source rollup. The Spark side reaches the same numbers via
      // diff-classified incremental clustering — certifying the whole
      // composition, not just its pieces.
      """WITH RECURSIVE v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
        |    lang, source
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, lang, source
        |  FROM documents WHERE doc_id % 13 = 0
        |), tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
        |  FROM v2
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok, 2) OVER w IS NOT NULL
        |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT da AS a, db AS b
        |  FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8),
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        |reach(node, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.r),
        |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
        |scored AS (
        |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster,
        |    CAST(length(d.text) AS BIGINT) AS len, d.source
        |  FROM v2 d LEFT JOIN comp c ON c.node = d.doc_id),
        |canon AS (
        |  SELECT cluster, doc_id AS canon_id FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY cluster
        |    ORDER BY len DESC, doc_id) = 1)
        |SELECT s.source, count(*) AS n_docs,
        |  count(DISTINCT s.cluster) AS n_clusters,
        |  CAST(sum(CASE WHEN c.canon_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_canon,
        |  CAST(sum(CASE WHEN c.canon_id IS NOT NULL THEN s.len END) AS BIGINT)
        |    AS kept_chars
        |FROM scored s LEFT JOIN canon c ON s.doc_id = c.canon_id
        |GROUP BY 1""".stripMargin),

    // ── INCREMENTAL cluster maintenance (the q89/q174 batch-fold
    // discipline on the CLUSTERING arc): old assignment (4/5 corpus) +
    // index-probed cross pairs + batch-internal pairs folded by
    // ConnectedComponents.incrementalClusters — O(batch + touched
    // clusters), never O(corpus) — and certified against q55's OWN
    // full-recompute oracle verbatim. oldAssign/cross feed multiple
    // consumers → localCheckpoint (the q69 lesson). ──
    QuerySpec("q186_inc_clusters", (s, dir) => {
      val docs = t(s, dir, "documents")
      val old = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      // one scan-side minhash pass: old-old pairs AND the batch probe
      // both derive from the checkpointed index (the q189 discipline)
      val idx = Dedup.buildMinhashIndexMaterialized(old, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32)
      val oldAssign = graft.ext.ConnectedComponents
        .dedupClusters(old, "doc_id",
          Dedup.nearDupPairsFromIndex(idx, threshold = 0.8), "doc_a", "doc_b")
        .localCheckpoint()
      // ONE batch-side minhash pass (the q189 rule)
      val bIdx = Dedup.buildMinhashIndexMaterialized(batch, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32)
      // bounded-batch probes broadcast the batch side (the q189 note
      // above)
      val cross = Dedup.nearDupPairsBetweenIndexes(bIdx, idx, threshold = 0.8,
          broadcastBatch = true)
        .localCheckpoint()
      val bp = Dedup.nearDupPairsFromIndex(bIdx, threshold = 0.8,
        broadcastIndex = true)
      graft.ext.ConnectedComponents.incrementalClusters(
        oldAssign, "doc_id", batch.select("doc_id"),
        cross, "new_id", "corpus_id", bp, "doc_a", "doc_b")
    },
      // IDENTICAL SQL to q55: the incremental fold must equal the full
      // recompute bit-for-bit (the q89 discipline on the clustering arc).
      FullDedupClustersSql),

    // ── index DELETE path under the oracle (q89's inverse): build the
    // stored index from the 4/5 corpus, tombstone the doc_id%10==9
    // slice (an O(|deleted|) parquet append — bands/sets never
    // rewritten), then probe with the batch. Result must equal brute
    // force against corpus MINUS deleted — a tombstoned doc can never
    // match again, and nothing else shifts. Staged commit like q89;
    // content-keyed with a delete-generation suffix so the cached
    // artifact can't be confused with q89's. ──
    QuerySpec("q174_idx_delete", (s, dir) => {
      val docs = t(s, dir, "documents")
      val fp = graft.operators.IndexStore.fingerprint(s"$dir/documents.parquet")
      val idxPath = graft.operators.IndexStore.ensure(
        s"${System.getProperty("java.io.tmpdir")}/graft_mh_idxdel_${fp}_k3h128b32d1") { staging =>
        Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 5 =!= 0), staging,
          "doc_id", "text", shingleK = 3, numHashes = 128, bands = 32)
        Dedup.deleteFromMinhashIndex(
          docs.filter(col("doc_id") % 10 === 9).select("doc_id"),
          staging, "doc_id")
      }
      Dedup.nearDupPairsMinhashAgainstIndex(
        docs.filter(col("doc_id") % 5 === 0), Dedup.readMinhashIndex(s, idxPath),
        "doc_id", "text", threshold = 0.8)
    },
      // q89's brute-force truth with the tombstoned slice excluded from
      // the corpus side — the delete semantics in one predicate.
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok, 2) OVER w IS NOT NULL
        |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS n_id, b.doc_id AS c_id, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0 AND b.doc_id % 10 <> 9
        |  GROUP BY 1, 2)
        |SELECT n_id AS new_id, c_id AS corpus_id,
        |  CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = n_id JOIN sz sb ON sb.doc_id = c_id
        |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8""".stripMargin),

    // ── exact repeated-SUBSTRING spans (Lee et al. arXiv:2107.06499,
    // n-gram fingerprint form): token positions whose 8-token window
    // appears in ≥2 distinct docs, merged into maximal per-doc spans —
    // the boilerplate/quote repetition document-level dedup can't see.
    // One explode + an md5-keyed df aggregate + a semi join; the span
    // merge is the q108 islands machinery on token coordinates. ──
    QuerySpec("q173_repeated_spans", (s, dir) =>
      Dedup.repeatedSpans(t(s, dir, "documents"), "doc_id", "text",
        n = 8, minDf = 2),
      // The md5(gram) keys mirror Dedup.repeatedSpans exactly (same
      // space-joined token windows, q105's tok/lead recipe); the islands
      // merge is q108's flag/running-sum shape on token coordinates.
      // span_seq's sum(flag) comes back HUGEINT — cast to BIGINT.
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id, pos, md5(tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w
        |    || ' ' || lead(tok,3) OVER w || ' ' || lead(tok,4) OVER w || ' ' || lead(tok,5) OVER w
        |    || ' ' || lead(tok,6) OVER w || ' ' || lead(tok,7) OVER w) AS g
        |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok, 7) OVER w IS NOT NULL),
        |hot AS (SELECT g FROM ng GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        |hits AS (SELECT doc_id, pos AS s, pos + 7 AS e FROM ng WHERE g IN (SELECT g FROM hot)),
        |f AS (SELECT doc_id, s, e,
        |  CASE WHEN max(e) OVER pre IS NULL OR s > max(e) OVER pre THEN 1 ELSE 0 END AS flag
        |  FROM hits WINDOW pre AS (PARTITION BY doc_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |g2 AS (SELECT doc_id, s, e,
        |  CAST(sum(flag) OVER (PARTITION BY doc_id ORDER BY s, e
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span_seq
        |  FROM f)
        |SELECT doc_id, span_seq, min(s) AS span_start, max(e) AS span_end,
        |  count(*) AS n_merged
        |FROM g2 GROUP BY 1, 2""".stripMargin)
  )
}
