package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** The multilingual corpus: Unicode tokenization, normalization,
  * scripts, sentences, stopword discovery and confusables.
  */
object UnicodeQueries {

  /** The round-14 multilingual corpus (tools/gen_multilingual.py):
    * 30 docs over zh/ja/ru/el/ar/hi/ko/th/de/fr/tr/en + mixed-script
    * spam + empty/whitespace arms. Explicit schema — no inference
    * scan, doc_id pinned LONG to match the oracle's BIGINT.
    */
  private def mlDocs(s: SparkSession): DataFrame =
    s.read.schema("doc_id LONG, lang STRING, text STRING")
      .json(s"$FixturesDir/multilingual.jsonl")

  /** q295/q303 shared five-arm NFC fixture over the documents ids:
    * precomposed vs decomposed é pairs (same DIV-5 group), OHM/
    * ANGSTROM singletons vs canonical Ω/Å, conjoining-jamo Hangul.
    */
  private def nfcFixture(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val a = id % 5
    val g = expr("CAST(doc_id DIV 5 AS BIGINT)").cast("string")
    // \uXXXX escapes, deliberately: arms 2/3 are byte-DIFFERENT but
    // visually identical (OHM/ANGSTROM vs their canonical forms), and
    // an NFC-normalizing editor would silently collapse raw literals
    // (review finding)
    val acute = lit("\u0301")
    val txt =
      when(a === 0, concat(lit("caf\u00e9 r\u00e9sum\u00e9 "), g))
        .when(a === 1, concat(lit("cafe"), acute, lit(" re"), acute,
          lit("sume"), acute, lit(" "), g))
        .when(a === 2, concat(lit("\u2126ohm \u212bring "), g))
        .when(a === 3, concat(lit("\u03a9ohm \u00c5ring "), g))
        .otherwise(concat(lit("\u1112\u1161\u11ab\uae00 "), g))
    docs.select(id).repartition(32).select(id, txt.as("text"))
  }

  /** The exploded (doc_id, lang, tok) frame — one tokenization, with
    * multiplicity — that the q296/q301 stopword machinery consumes.
    */
  private def mlTokens(ml: DataFrame): DataFrame =
    ml.select(col("doc_id"), col("lang"),
      explode(graft.ext.TextAnalysis.tokens(col("text"))).as("tok"))

  /** q296/q301 SHARED stopword discovery (extracted per review — a
    * q296 threshold retune must reach q301's calibration or the
    * "loop closed" claim silently breaks): distinct-per-doc tokens →
    * per-(lang, tok) document frequency, recurring only (df >= 2),
    * top-5 per language by the TOTAL (df DESC, tok ASC) order.
    */
  private val StopMinDf = 2

  private val StopTopK = 5

  private def discoveredStopwords(tokAll: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang")
      .orderBy(col("df").desc, col("tok").asc)
    tokAll.select("lang", "doc_id", "tok").distinct()
      .groupBy("lang", "tok")
      .agg(count(lit(1)).cast("long").as("df"))
      .filter(col("df") >= StopMinDf)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= StopTopK)
  }

  /** Oracle fragments for the discovery (same constants): `ta` is
    * the one-tokenization exploded frame; `ex`/`f` the distinct-df
    * chain; `disc` the top-K per-language list.
    */
  private def duckMlTokensCte: String =
    s"ta AS (SELECT doc_id, lang, unnest(${duckUToks("text")}) AS tok " +
      s"FROM $MlJson)"

  private def duckStopFreqCtes: String =
    "ex AS (SELECT DISTINCT lang, doc_id, tok FROM ta),\n" +
      "f AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS df " +
      "FROM ex GROUP BY 1, 2)"

  private def duckStopDiscCte: String =
    s"disc AS (SELECT lang, tok FROM (SELECT lang, tok, " +
      s"row_number() OVER (PARTITION BY lang ORDER BY df DESC, tok) " +
      s"AS r FROM f WHERE df >= $StopMinDf) WHERE r <= $StopTopK)"

  /** q288/q294 shared projection: the Unicode-tokenizer contract
    * report (counts, ascii-run contrast, fingerprint, first/last).
    */
  private def uTokensReport(docs: DataFrame): DataFrame = {
    import graft.ext.TextAnalysis
    docs
      .withColumn("__tk", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"), col("lang"),
        size(col("__tk")).cast("long").as("n_tok"),
        size(regexp_extract_all(coalesce(col("text"), lit("")),
          lit("[A-Za-z0-9]+"), lit(0))).cast("long").as("n_ascii_runs"),
        TextAnalysis.fingerprint(col("__tk")).as("fp"),
        try_element_at(col("__tk"), lit(1)).as("first_tok"),
        try_element_at(col("__tk"), lit(-1)).as("last_tok"))
  }

  private val MlJson =
    s"read_json_auto('$FixturesDir/multilingual.jsonl')"

  // ── DuckDB mirrors of the round-14 Unicode tokenizer, GENERATED
  // from the same TextAnalysis constants (CjkCharClass, the lower
  // fold maps) so the two engines cannot drift apart. All single-line
  // (the stripMargin || hazard — BASELINE.md q219 postmortem). ──

  /** `TextAnalysis.cjkIsolate` mirror: space-isolate each CJK
    * codepoint (`\1` backref, 'g' flag — DuckDB replaces first-only
    * by default).
    */
  private def duckCjkIsolate(e: String): String =
    s"regexp_replace(coalesce($e, ''), " +
      s"'(${graft.ext.TextAnalysis.CjkCharClass})', ' \\1 ', 'g')"

  /** `TextAnalysis.lowerU` mirror: the pre-lower translate folds the
    * four JVM≠DuckDB case mappings plus Σ/ς→σ (src/dst interpolated
    * from the SAME private[graft] constants).
    */
  private def duckLowerU(e: String): String =
    s"lower(translate(coalesce($e, ''), " +
      s"'${graft.ext.TextAnalysis.LowerPreFoldSrc}', " +
      s"'${graft.ext.TextAnalysis.LowerPreFoldDst}'))"

  /** `TextAnalysis.tokens` mirror: isolate → fold-lower → extract
    * letter/mark/digit runs.
    */
  private def duckUToks(e: String): String =
    s"regexp_extract_all(${duckLowerU(duckCjkIsolate(e))}, " +
      "'[\\p{L}\\p{M}\\p{N}]+')"

  /** `TextAnalysis.normalizeForDedupU` mirror: fold-lower → digits→0
    * → strip non-letter/mark/0/ws → collapse ws → trim (regex-escape
    * whitespace spellings, so the SQL carries no control chars).
    */
  private def duckUNorm(e: String): String =
    s"trim(regexp_replace(regexp_replace(regexp_replace(" +
      s"${duckLowerU(e)}, '\\p{Nd}', '0', 'g'), " +
      "'[^\\p{L}\\p{M}0 \\t\\r\\n]', '', 'g'), " +
      "'[ \\t\\r\\n]+', ' ', 'g'))"

  /** q295/q303 shared NFC-arm mirror: the arms rebuilt closed-form
    * via chr() codepoints, normalized by DuckDB's independent
    * nfc_normalize; ends with CTE `n` = (doc_id, text, nfc_text).
    */
  private val NfcArmsSql: String =
    """WITH p AS (
      |  SELECT doc_id, doc_id % 5 AS a,
      |    CAST(doc_id // 5 AS VARCHAR) AS g
      |  FROM documents),
      |d AS (
      |  SELECT doc_id,
      |    CASE a
      |      WHEN 0 THEN 'caf' || chr(233) || ' r' || chr(233) ||
      |        'sum' || chr(233) || ' ' || g
      |      WHEN 1 THEN 'cafe' || chr(769) || ' re' || chr(769) ||
      |        'sume' || chr(769) || ' ' || g
      |      WHEN 2 THEN chr(8486) || 'ohm ' || chr(8491) || 'ring ' || g
      |      WHEN 3 THEN chr(937) || 'ohm ' || chr(197) || 'ring ' || g
      |      ELSE chr(4370) || chr(4449) || chr(4523) || chr(44544)
      |        || ' ' || g
      |    END AS text
      |  FROM p),
      |n AS (
      |  SELECT doc_id, text, nfc_normalize(text) AS nfc_text FROM d)""".stripMargin

  /** q288/q294 shared tokenizer-contract mirror (the streaming twin
    * q294 certifies against it VERBATIM — the q263 discipline).
    */
  private lazy val UnicodeTokensSql: String =
    s"WITH d AS (SELECT doc_id, lang, coalesce(text, '') AS text, " +
      s"${duckUToks("text")} AS tk FROM $MlJson)\n" +
      """SELECT doc_id, lang,
        |  CAST(len(tk) AS BIGINT) AS n_tok,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
        |    AS n_ascii_runs,
        |  md5(coalesce(array_to_string(tk, ' '), '')) AS fp,
        |  tk[1] AS first_tok, tk[-1] AS last_tok
        |FROM d""".stripMargin

  /** `TextAnalysis.sentencesU` mirror — terminal set interpolated
    * from the same USentTerminals constant.
    */
  private def duckUSents(e: String): String = {
    val t = graft.ext.TextAnalysis.USentTerminals
    s"list_filter(list_transform(regexp_extract_all(coalesce($e, ''), " +
      s"'[^$t]+[$t]?'), " +
      "s -> trim(regexp_replace(s, '[ \\t\\r\\n]+', ' ', 'g'))), " +
      "s -> s <> '')"
  }

  /** q291/q301 shared CJK-aware gopher mirror (q301 composes the
    * discovered-stopword override on top of it verbatim).
    */
  private lazy val UGopherSql: String =
    s"WITH raw AS (SELECT doc_id, coalesce(text, '') AS txt " +
        s"FROM $MlJson),\n" +
        s"st AS (SELECT doc_id, txt, " +
        s"list_filter(regexp_split_to_array(trim(" +
        s"${duckCjkIsolate("txt")}), '[ \\t\\r\\n]+'), w -> w <> '') " +
        s"AS words, string_split(txt, chr(10)) AS lines, " +
        s"${duckUToks("txt")} AS tk FROM raw),\n" +
        s"m AS (SELECT doc_id, " +
        s"CAST(len(words) AS BIGINT) AS n_words, " +
        s"CAST(len(lines) AS BIGINT) AS n_lines, " +
        s"CAST(length(regexp_replace(txt, '[ \\t\\r\\n]', '', 'g')) AS BIGINT) AS wc, " +
        s"CAST(len(regexp_extract_all(txt, '[#…]')) AS BIGINT) AS sy, " +
        s"CAST(len(list_filter(lines, l -> starts_with(l, '- ') OR " +
        s"starts_with(l, '* ') OR starts_with(l, '• '))) AS BIGINT) AS bu, " +
        s"CAST(len(list_filter(lines, l -> ends_with(l, '...') OR " +
        s"ends_with(l, '…'))) AS BIGINT) AS el, " +
        s"CAST(len(list_filter(words, w -> regexp_matches(w, '\\p{L}'))) AS BIGINT) AS al, " +
        s"CAST(len(list_filter(tk, t -> list_contains(" +
        graft.ext.TextAnalysis.Stopwords.map(w => s"'$w'")
          .mkString("[", ", ", "]") +
        s", t))) AS BIGINT) AS stop_hits FROM st)\n" +
        """SELECT doc_id, n_words, n_lines, stop_hits,
          |  CASE WHEN n_words = 0 THEN 0
          |    ELSE wc * 100 // n_words END AS mean_len_c100,
          |  CASE WHEN n_words = 0 THEN 0
          |    ELSE sy * 1000000 // n_words END AS symbol_ppm,
          |  bu * 1000000 // n_lines AS bullet_ppm,
          |  el * 1000000 // n_lines AS ellipsis_ppm,
          |  CASE WHEN n_words = 0 THEN 0
          |    ELSE al * 1000000 // n_words END AS alpha_ppm,
          |  CASE WHEN n_words < 10 OR n_words > 100000 THEN 'word_count'
          |    WHEN (CASE WHEN n_words = 0 THEN 0
          |      ELSE wc * 100 // n_words END) < 100
          |      OR (CASE WHEN n_words = 0 THEN 0
          |      ELSE wc * 100 // n_words END) > 1000 THEN 'word_len'
          |    WHEN (CASE WHEN n_words = 0 THEN 0
          |      ELSE sy * 1000000 // n_words END) > 100000 THEN 'symbol'
          |    WHEN bu * 1000000 // n_lines > 900000 THEN 'bullet'
          |    WHEN el * 1000000 // n_lines > 300000 THEN 'ellipsis'
          |    WHEN (CASE WHEN n_words = 0 THEN 0
          |      ELSE al * 1000000 // n_words END) < 800000 THEN 'alpha'
          |    WHEN stop_hits < 0 THEN 'stopword'
          |    ELSE 'keep' END AS verdict
          |FROM m""".stripMargin

  /** `TextAnalysis.normalizeForDedup` (Latin) mirror — accent fold
    * interpolated from the same AccentFold constants. The aggressive
    * `[^a-z0 ]` strip makes this route immune to the ICU/DuckDB
    * case-table seam: every divergent mapping strips to ''.
    */
  private def duckLatinNorm(e: String): String =
    s"trim(regexp_replace(regexp_replace(regexp_replace(" +
      s"translate(lower(coalesce($e, '')), " +
      s"'${graft.ext.TextAnalysis.AccentFoldSrc}', " +
      s"'${graft.ext.TextAnalysis.AccentFoldDst}'), " +
      "'[0-9]', '0', 'g'), " +
      "'[^a-z0 \\t\\r\\n]', '', 'g'), " +
      "'[ \\t\\r\\n]+', ' ', 'g'))"

  /** q290/q293 shared exact-Jaccard mirror over Unicode-token
    * 3-shingles (the q18 oracle shape, re-tokenized): thresholds 0.5
    * (jaccard pairs) and 0.8 (minhash-LSH — whose banded-candidate +
    * exact-verify output coincides with the exact all-pairs set).
    */
  private def uJaccardSql(tau: String): String = {
    val tk = duckUToks("text")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($tk) AS tok,
       |    generate_subscripts($tk, 1) AS pos
       |  FROM $MlJson
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
       |WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= $tau""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(

    // ══ round 14: the Unicode-tokenizer block (q288-q293), certified
    // over fixtures/multilingual.jsonl (tools/gen_multilingual.py) —
    // the driver corpus is ASCII-only (its zh/es/de rows carry Latin
    // text), so the multilingual behavior of tokens()/the dedup and
    // quality families certifies against this authored fixture. Every
    // oracle recomputes with DuckDB mirrors GENERATED from the same
    // constants as TextAnalysis (duckUToks/duckLowerU/duckUNorm —
    // single source of truth for the CJK class and the fold maps). ══

    // ── the tokenizer contract itself (TextAnalysis.tokens, round
    // 14): token counts, fingerprint, first/last token — CJK per-char
    // isolation (zh/ja + halfwidth kana), run tokens for spaced
    // scripts (ru/el/ar/hi/ko incl. combining marks), the four
    // lower() fold codepoints + final sigma (docs 22/30), and the
    // classify-every-input arms (empty/whitespace → 0 tokens, md5('')
    // fingerprint, NULL first/last). n_ascii_runs ([A-Za-z0-9]+, NO
    // lower() — case-blind, so both engines agree on every input)
    // records what the pre-round-14 ASCII family saw per doc. ──
    QuerySpec("q288_unicode_tokens", (s, dir) => uTokensReport(mlDocs(s)),
      // ── round-14 Unicode-tokenizer mirrors: real recomputation over
      // the SAME fixture file, with the tokenizer/normalizer SQL
      // generated from TextAnalysis's constants (duckUToks/duckLowerU/
      // duckUNorm) — the certified contract is that JVM regex +
      // String.toLowerCase and DuckDB RE2 + utf8proc lower agree
      // bit-for-bit on Unicode-13-assigned codepoints after the fold
      // translate (exhaustive per-codepoint diff, planes 0-2). ──
      UnicodeTokensSql),

    // ── streaming Unicode-tokens twin (the q263/q271/q285 replay
    // discipline): the multilingual fixture replayed over two JSONL
    // waves — the FIRST twin whose payload text is non-ASCII, so the
    // replay envelope's UTF-8 round trip (.write.json → landing
    // .json file → readStream.json) is itself under certification;
    // lang rides inside a nested-JSON payload (the q285 nested-quote
    // seam).
    // Certified against q288's oracle VERBATIM (shared
    // UnicodeTokensSql + shared uTokensReport projection). ──
    QuerySpec("q294_unicode_stream", (s, dir) => {
      val packed = mlDocs(s).select(col("doc_id"),
        to_json(struct(col("lang"), col("text"))).as("payload"))
      graft.streaming.StreamingReports.projectionStreamReplay(
        s, packed, "doc_id", "payload", df =>
          uTokensReport(df
            .select(col("doc_id"),
              from_json(col("payload"),
                org.apache.spark.sql.types.StructType.fromDDL(
                  "lang STRING, text STRING")).as("j"))
            .select(col("doc_id"), col("j.lang").as("lang"),
              col("j.text").as("text"))))
    },
      UnicodeTokensSql),

    // ── multilingual normalized exact dedup (dedupExactNormalized
    // with normalizeForDedupU): the zh punct+digit variants (1,2,3),
    // ja digit variants (5,6), ru case+digit (8,9) and el upper/lower
    // incl. final sigma (11,12) collapse; the en pair (23,24) differs
    // by a real word and must NOT; empty+whitespace docs (27,28) share
    // the '' key — deterministic, classify-every-input. ──
    QuerySpec("q289_unicode_norm_dedup", (s, dir) =>
      graft.ext.Dedup.dedupExactNormalized(mlDocs(s), "doc_id", "text",
        graft.ext.TextAnalysis.normalizeForDedupU),
      (s"WITH d AS (SELECT doc_id, ${duckUNorm("text")} AS norm_text " +
        s"FROM $MlJson),\n" +
        """g AS (SELECT norm_text, min(doc_id) AS keep_id,
          |  count(*) AS n_copies FROM d GROUP BY 1)
          |SELECT d.doc_id, d.norm_text, g.keep_id, g.n_copies,
          |  d.doc_id <> g.keep_id AS is_dup
          |FROM d JOIN g USING (norm_text)""".stripMargin)),

    // ── multilingual n-gram Jaccard pairs (3-shingles over the now-
    // Unicode tokens): per-char CJK shingles make the zh/ja variant
    // pairs near-dups the ASCII tokenizer was blind to (it saw ZERO
    // tokens on those docs — the round-13 verdict's gap) ──
    QuerySpec("q290_unicode_jaccard", (s, dir) =>
      graft.ext.Dedup.ngramJaccardPairs(mlDocs(s), "doc_id", "text",
        shingleK = 3, threshold = 0.5),
      uJaccardSql("0.5")),

    // ── Gopher quality gates, CJK-aware (cjkAware=true: per-char CJK
    // words, \p{L} alpha rule) with multilingual-calibrated
    // thresholds (minLenC100=100 — per-char words make a pure-CJK
    // doc's mean exactly 100; minStopHits=0 — the English stopword
    // rule is per-language POLICY, not mechanism): zh/ja clear the
    // word gates they'd fail under whitespace words; the Thai doc
    // pins the run-token limitation (3 whitespace words →
    // word_count); empty/whitespace → word_count. ──
    QuerySpec("q291_unicode_gopher", (s, dir) =>
      graft.ext.TextAnalysis.gopherQualityFlags(mlDocs(s), "doc_id",
        "text", minWords = 10L, minLenC100 = 100L, minStopHits = 0L,
        cjkAware = true),
      // gopher mirror on real multilingual text: words over the
      // CJK-isolated text, \p{L} alpha rule, Unicode-token stop hits —
      // same integer floor-div ppm arithmetic as GopherQualitySql
      UGopherSql),

    // ── script profile on REAL multilingual text (q259 certified the
    // ppm arithmetic on closed-form residue fixtures; this certifies
    // the \p{IsX} classes themselves against DuckDB's independent
    // letters-then-script two-step): latin/cyrillic/cjk/arabic
    // dominants, el/hi/ko/th routing to `other`, and the
    // Latin/Cyrillic homoglyph spam doc crossing the mixed flag ──
    QuerySpec("q292_script_profile_multi", (s, dir) =>
      graft.ext.TextAnalysis.scriptProfile(mlDocs(s), "doc_id", "text"),
      // script-profile mirror on real text: DuckDB's independent
      // two-step (extract \p{L} letters, filter each by RE2 script
      // class) against Spark's Java [\p{IsX}&&[\p{L}]] intersections
      (s"WITH raw AS (SELECT doc_id, coalesce(text, '') AS txt " +
        s"FROM $MlJson),\n" +
        """le AS (SELECT doc_id,
          |  regexp_extract_all(txt, '\p{L}') AS ls FROM raw),
          |c AS (SELECT doc_id,
          |  CAST(len(list_filter(ls, x -> regexp_matches(x, '\p{Latin}')))
          |    AS BIGINT) AS latin,
          |  CAST(len(list_filter(ls, x -> regexp_matches(x, '\p{Cyrillic}')))
          |    AS BIGINT) AS cyrillic,
          |  CAST(len(list_filter(ls, x -> regexp_matches(x,
          |    '[\p{Han}\p{Hiragana}\p{Katakana}]'))) AS BIGINT) AS cjk,
          |  CAST(len(list_filter(ls, x -> regexp_matches(x, '\p{Arabic}')))
          |    AS BIGINT) AS arabic,
          |  CAST(len(ls) AS BIGINT) AS n_letters
          |  FROM le),
          |d AS (SELECT *,
          |  n_letters - latin - cyrillic - cjk - arabic AS other,
          |  greatest(latin, cyrillic, cjk, arabic,
          |    n_letters - latin - cyrillic - cjk - arabic) AS best
          |  FROM c),
          |dm AS (SELECT *, CASE WHEN best <= 0 THEN 'none'
          |    WHEN latin = best THEN 'latin'
          |    WHEN cyrillic = best THEN 'cyrillic'
          |    WHEN cjk = best THEN 'cjk'
          |    WHEN arabic = best THEN 'arabic'
          |    ELSE 'other' END AS dominant FROM d),
          |sc AS (SELECT *, greatest(
          |    CASE WHEN dominant = 'latin' THEN -1 ELSE latin END,
          |    CASE WHEN dominant = 'cyrillic' THEN -1 ELSE cyrillic END,
          |    CASE WHEN dominant = 'cjk' THEN -1 ELSE cjk END,
          |    CASE WHEN dominant = 'arabic' THEN -1 ELSE arabic END,
          |    CASE WHEN dominant = 'other' THEN -1 ELSE other END)
          |    AS second_cnt FROM dm)
          |SELECT doc_id, latin, cyrillic, cjk, arabic, n_letters, other,
          |  dominant,
          |  CAST(CASE WHEN n_letters = 0 THEN 0
          |    ELSE greatest(second_cnt, 0) * 1000000 // n_letters END
          |    AS BIGINT) AS second_ppm,
          |  CASE WHEN n_letters = 0 THEN FALSE
          |    ELSE greatest(second_cnt, 0) * 1000000 // n_letters > 200000
          |    END AS mixed
          |FROM sc""".stripMargin)),

    // ── multilingual minhash-LSH near-dup (q18's operator, Unicode
    // tokens): banded candidates + exact-Jaccard verify == the exact
    // >=0.8 all-pairs set (32×4 bands, miss prob ~1e-15 at J>=0.85;
    // the fixture's near-dup band sits at J>=0.85) ──
    QuerySpec("q293_unicode_minhash", (s, dir) =>
      graft.ext.Dedup.nearDupPairsMinhash(mlDocs(s), "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.8),
      uJaccardSql("0.8")),

    // ── per-language stopword DISCOVERY (the input the q291 gopher
    // `stopwords` parameter needs, derived instead of hand-listed):
    // per (lang, token) document frequency over distinct-per-doc
    // Unicode tokens, top-5 per language by (df DESC, token ASC) —
    // a TOTAL order, so rank-boundary ties certify — keeping only
    // recurring tokens (df >= 2). CJK languages surface frequent
    // CHARACTERS (的/是…), exactly the per-char stopword grain the
    // tokenizer defines. ──
    QuerySpec("q296_stopword_discovery", (s, dir) =>
      discoveredStopwords(mlTokens(mlDocs(s))),
      // stopword-discovery mirror: distinct-per-doc unicode tokens →
      // per-(lang, tok) df → top-K by the TOTAL (df DESC, tok) order —
      // CTEs and thresholds shared with q301's mirror (StopMinDf/
      // StopTopK interpolate into every spelling)
      (s"WITH $duckMlTokensCte,\n$duckStopFreqCtes\n" +
        s"SELECT lang, tok, df, " +
        s"CAST(row_number() OVER (PARTITION BY lang " +
        s"ORDER BY df DESC, tok) AS INTEGER) AS rank " +
        s"FROM f WHERE df >= $StopMinDf QUALIFY rank <= $StopTopK")),

    // ── multilingual dedup CAPSTONE (the q264/q280 composition
    // discipline): scriptProfile routes each doc — latin-dominant →
    // the accent-folding Latin normalizer, everything else (cjk/
    // cyrillic/arabic/other/none) → normalizeForDedupU — then
    // keep-min exact dedup on the routed key, then minhash near-dup
    // (Unicode shingles, τ=0.6) among the SURVIVORS: the en pair
    // (23,24) survives exact dedup (they differ by a word) and is
    // caught here, keep-first (24 → near_dup_of 23). BAND-MISS BOUND
    // (the q293 discipline, round-14 ADVICE): the (23,24) pair sits
    // at exact Jaccard J=0.625, so with 128 hashes in 32 bands of 4
    // the a-priori candidate-miss probability is (1−J⁴)³² =
    // (1−0.1526)³² ≈ 0.5% — NOT structurally negligible like q293's
    // ~1e-15 at J≥0.85. The match is still deterministic (fixed
    // minhash seed; this fixture's draw finds the pair — certified),
    // but ANY edit to doc 23/24's text re-rolls that 0.5% die:
    // re-derive J and this bound after a fixture retune, or keep the
    // pair's J ≥ 0.75 (miss < 1e-4) if retuning. Doc 30's fold
    // chars ride the latin route and strip cleanly (the aggressive
    // [^a-z0 ] strip makes the Latin route immune to the ICU/DuckDB
    // case-table seam — divergent mappings all strip to ''). ──
    QuerySpec("q297_ml_dedup_capstone", (s, dir) => {
      import graft.ext.{Dedup, TextAnalysis}
      val prof = TextAnalysis.scriptProfile(mlDocs(s), "doc_id", "text")
        .select(col("doc_id"), col("dominant"))
      val routed = mlDocs(s).join(prof, Seq("doc_id"))
        .withColumn("route",
          when(col("dominant") === "latin", lit("latin_norm"))
            .otherwise(lit("unicode_norm")))
        .withColumn("norm",
          when(col("dominant") === "latin",
            TextAnalysis.normalizeForDedup(col("text")))
            .otherwise(TextAnalysis.normalizeForDedupU(col("text"))))
        .localCheckpoint()
      val groups = routed.groupBy("norm")
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
      val withG = routed.join(groups, Seq("norm"))
      val keepers = withG.filter(col("doc_id") === col("keep_id"))
        .select(col("doc_id"), col("text"))
      val nd = Dedup.nearDupPairsMinhash(keepers, "doc_id", "text",
          shingleK = 3, numHashes = 128, bands = 32, threshold = 0.6)
        .groupBy(col("doc_b").as("doc_id"))
        .agg(min(col("doc_a")).as("near_dup_of"))
      withG.join(nd, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dominant"), col("route"),
          col("keep_id"), col("n_copies"),
          (col("doc_id") =!= col("keep_id")).as("is_dup"),
          col("near_dup_of"))
    },
      // capstone mirror: dominant-script CASE (the q292 two-step class
      // filter), routed normalizer (latin accent-fold vs unicode), exact
      // groups on the routed key, then exact Jaccard >= 0.6 among the
      // keepers (== the minhash output at these similarities)
      (s"WITH raw AS (SELECT doc_id, coalesce(text, '') AS txt " +
        s"FROM $MlJson),\n" +
        """le AS (SELECT doc_id, txt,
          |  regexp_extract_all(txt, '\p{L}') AS ls FROM raw),
          |c AS (SELECT doc_id, txt,
          |  len(list_filter(ls, x -> regexp_matches(x, '\p{Latin}'))) AS latin,
          |  len(list_filter(ls, x -> regexp_matches(x, '\p{Cyrillic}'))) AS cyrillic,
          |  len(list_filter(ls, x -> regexp_matches(x,
          |    '[\p{Han}\p{Hiragana}\p{Katakana}]'))) AS cjk,
          |  len(list_filter(ls, x -> regexp_matches(x, '\p{Arabic}'))) AS arabic,
          |  len(ls) AS n_letters FROM le),
          |d AS (SELECT *, n_letters - latin - cyrillic - cjk - arabic AS other,
          |  greatest(latin, cyrillic, cjk, arabic,
          |    n_letters - latin - cyrillic - cjk - arabic) AS best FROM c),
          |dm AS (SELECT doc_id, txt, CASE WHEN best <= 0 THEN 'none'
          |  WHEN latin = best THEN 'latin'
          |  WHEN cyrillic = best THEN 'cyrillic'
          |  WHEN cjk = best THEN 'cjk'
          |  WHEN arabic = best THEN 'arabic'
          |  ELSE 'other' END AS dominant FROM d),
          |""".stripMargin +
        s"r AS (SELECT doc_id, txt, dominant, " +
        s"CASE WHEN dominant = 'latin' THEN 'latin_norm' " +
        s"ELSE 'unicode_norm' END AS route, " +
        s"CASE WHEN dominant = 'latin' THEN ${duckLatinNorm("txt")} " +
        s"ELSE ${duckUNorm("txt")} END AS norm FROM dm),\n" +
        """g AS (SELECT norm, min(doc_id) AS keep_id,
          |  count(*) AS n_copies FROM r GROUP BY 1),
          |j AS (SELECT r.*, g.keep_id, g.n_copies FROM r JOIN g USING (norm)),
          |k AS (SELECT doc_id, txt FROM j WHERE doc_id = keep_id),
          |""".stripMargin +
        s"tok AS (SELECT doc_id, unnest(${duckUToks("txt")}) AS tok, " +
        s"generate_subscripts(${duckUToks("txt")}, 1) AS pos FROM k),\n" +
        """sh AS (SELECT DISTINCT doc_id,
          |  tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
          |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
          |  QUALIFY lead(tok, 2) OVER w IS NOT NULL),
          |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
          |  FROM sh a JOIN sh b
          |  ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
          |pr AS (SELECT da, db FROM inter
          |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
          |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.6),
          |nd AS (SELECT db AS doc_id, min(da) AS near_dup_of FROM pr GROUP BY 1)
          |SELECT j.doc_id, j.dominant, j.route, j.keep_id, j.n_copies,
          |  j.doc_id <> j.keep_id AS is_dup, nd.near_dup_of
          |FROM j LEFT JOIN nd USING (doc_id)""".stripMargin)),

    // ── mixed-script word detection (the homoglyph-spoof signature —
    // dedup/blocklist EVASION normalizes through lookalike Cyrillic
    // in Latin words, and a word carrying BOTH scripts is the tell;
    // legitimate text is script-pure at word grain): whitespace
    // words carrying ≥1 Latin AND ≥1 Cyrillic letter, counted per
    // doc. Exactly one fixture doc (26, the homoglyph spam) fires —
    // pure-Cyrillic ru docs and pure-Latin docs all score 0, so the
    // signal separates spoofing from multilingual content. ──
    QuerySpec("q298_mixed_script_words", (s, dir) => {
      val txt = coalesce(col("text"), lit(""))
      mlDocs(s)
        .withColumn("__w",
          filter(split(trim(txt), "[ \t\r\n]+"), w => w =!= ""))
        .withColumn("__m", filter(col("__w"),
          w => w.rlike("\\p{IsLatin}") && w.rlike("\\p{IsCyrillic}")))
        .select(col("doc_id"), col("lang"),
          size(col("__w")).cast("long").as("n_words"),
          size(col("__m")).cast("long").as("n_mixed"),
          try_element_at(col("__m"), lit(1)).as("first_mixed"),
          (size(col("__m")) > 0).as("spoofy"))
    },
      // mixed-script mirror: same whitespace words, RE2 script classes
      (s"WITH d AS (SELECT doc_id, lang, " +
        s"list_filter(regexp_split_to_array(trim(coalesce(text, '')), " +
        s"'[ \\t\\r\\n]+'), w -> w <> '') AS ws FROM $MlJson),\n" +
        """m AS (SELECT doc_id, lang, ws,
          |  list_filter(ws, w -> regexp_matches(w, '\p{Latin}')
          |    AND regexp_matches(w, '\p{Cyrillic}')) AS ms FROM d)
          |SELECT doc_id, lang, CAST(len(ws) AS BIGINT) AS n_words,
          |  CAST(len(ms) AS BIGINT) AS n_mixed, ms[1] AS first_mixed,
          |  len(ms) > 0 AS spoofy
          |FROM m""".stripMargin)),

    // ── Unicode sentence segmentation (TextAnalysis.sentencesU —
    // the tokens() lesson at sentence grain: without the fullwidth
    // 。！？ terminals a zh/ja doc is ONE sentence and span dedup
    // no-ops on it): per-doc counts + first/last sentence over the
    // multilingual fixture; empty/whitespace arms → 0 sentences,
    // NULL first/last. ──
    QuerySpec("q299_unicode_sentences", (s, dir) => {
      import graft.ext.TextAnalysis
      mlDocs(s)
        .withColumn("__s", TextAnalysis.sentencesU(col("text")))
        .select(col("doc_id"), col("lang"),
          size(col("__s")).cast("long").as("n_sents"),
          try_element_at(col("__s"), lit(1)).as("first_sent"),
          try_element_at(col("__s"), lit(-1)).as("last_sent"))
    },
      (s"WITH d AS (SELECT doc_id, lang, ${duckUSents("text")} AS ss " +
        s"FROM $MlJson)\n" +
        """SELECT doc_id, lang, CAST(len(ss) AS BIGINT) AS n_sents,
          |  ss[1] AS first_sent, ss[-1] AS last_sent
          |FROM d""".stripMargin)),

    // ── multilingual sentence-SPAN dedup (Dedup.dedupSentenceSpans
    // with the sentencesU segmenter seam, span=2): the zh exact copy
    // (doc 3) loses every sentence to doc 1's spans; the en near-dup
    // (doc 24) loses its 2-sentence shared head but KEEPS its unique
    // tail — the partial-dedup path, which is the operator's whole
    // point; differing punctuation/digits (docs 2/6/9) shift
    // sentence boundaries and survive intact. ──
    QuerySpec("q300_ml_span_dedup", (s, dir) =>
      graft.ext.Dedup.dedupSentenceSpans(mlDocs(s), "doc_id", "text",
        span = 2, segmenter = graft.ext.TextAnalysis.sentencesU),
      // span-dedup mirror on REAL text (q274's oracle was closed-form
      // residues; this recomputes): 2-spans via lead, global keep-first
      // on the id*2^20+pos pack, removed sentence indices from span
      // starts, rebuild via ordered string_agg
      (s"WITH d AS (SELECT doc_id, ${duckUSents("text")} AS ss " +
        s"FROM $MlJson),\n" +
        """sent AS (SELECT doc_id, unnest(ss) AS s,
          |  generate_subscripts(ss, 1) - 1 AS si FROM d),
          |sp AS (SELECT doc_id, si AS pos,
          |  md5(s || ' ' || lead(s, 1) OVER w) AS fp
          |  FROM sent WINDOW w AS (PARTITION BY doc_id ORDER BY si)
          |  QUALIFY lead(s, 1) OVER w IS NOT NULL),
          |fs AS (SELECT doc_id, pos, fp,
          |  doc_id * 1048576 + pos AS enc FROM sp),
          |kp AS (SELECT fp, min(enc) AS keep FROM fs GROUP BY 1),
          |rm AS (SELECT DISTINCT doc_id, si FROM (
          |  SELECT f.doc_id, unnest([f.pos, f.pos + 1]) AS si
          |  FROM fs f JOIN kp USING (fp) WHERE f.enc <> kp.keep)),
          |keep_s AS (SELECT s.doc_id, s.si, s.s FROM sent s
          |  LEFT JOIN rm ON s.doc_id = rm.doc_id AND s.si = rm.si
          |  WHERE rm.si IS NULL),
          |rb AS (SELECT doc_id, count(*) AS n_kept,
          |  string_agg(s, ' ' ORDER BY si) AS text_dedup
          |  FROM keep_s GROUP BY 1)
          |SELECT d.doc_id, CAST(len(ss) AS BIGINT) AS n_sents,
          |  CAST(coalesce(rb.n_kept, 0) AS BIGINT) AS n_kept,
          |  coalesce(rb.text_dedup, '') AS text_dedup
          |FROM d LEFT JOIN rb USING (doc_id)""".stripMargin)),

    // ── SELF-CALIBRATING per-language quality gate (q296 ∘ q291 —
    // closing the loop the stopword-discovery comment promised): the
    // discovered per-language stopword lists become the stopword rule
    // the static English list can't provide — doc token occurrences
    // joined against the doc's OWN language's discovered list (a
    // broadcast-sized dim), overriding a base `keep` to `stopword`
    // when a covered language scores zero hits. Languages without a
    // discovered list (single-doc th, the xx arms) are exempt — the
    // rule only fires where calibration data exists. Exactly one doc
    // flips (en 25, sharing no recurring token with the other en
    // docs): the mechanism demo that list quality tracks corpus
    // size. ──
    QuerySpec("q301_lang_calibrated_gopher", (s, dir) => {
      import graft.ext.TextAnalysis
      val ml = mlDocs(s)
      // tokenize ONCE: the exploded frame feeds both the discovery
      // (via the SHARED q296 helper — the thresholds cannot drift)
      // and the multiplicity hit counts (review findings)
      val tokAll = mlTokens(ml).localCheckpoint()
      val disc = discoveredStopwords(tokAll)
        .select("lang", "tok")
        .localCheckpoint()
      val hasList = disc.select("lang").distinct()
        .withColumn("has_list", lit(true))
      val hits = tokAll.join(broadcast(disc), Seq("lang", "tok"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("stop_hits_lang"))
      val base = TextAnalysis.gopherQualityFlags(ml, "doc_id", "text",
          minWords = 10L, minLenC100 = 100L, minStopHits = 0L,
          cjkAware = true)
        .select(col("doc_id"), col("verdict").as("base_verdict"))
      ml.select(col("doc_id"), col("lang"))
        .join(base, Seq("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .join(broadcast(hasList), Seq("lang"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("stop_hits_lang"), lit(0L)).as("stop_hits_lang"),
          col("base_verdict"),
          when(col("base_verdict") === "keep" &&
            coalesce(col("has_list"), lit(false)) &&
            coalesce(col("stop_hits_lang"), lit(0L)) < 1L,
            lit("stopword"))
            .otherwise(col("base_verdict")).as("verdict"))
    },
      // calibrated-gopher mirror: the q291 gopher mirror as a subquery
      // + the q296 discovery logic + the zero-hit override, all three
      // recomputed independently
      (s"WITH b AS (SELECT doc_id, verdict AS base_verdict " +
        s"FROM ($UGopherSql) AS g),\n" +
        s"$duckMlTokensCte,\n$duckStopFreqCtes,\n$duckStopDiscCte,\n" +
        "hl AS (SELECT DISTINCT lang FROM disc),\n" +
        s"h AS (SELECT ta.doc_id, count(*) AS n FROM ta JOIN disc " +
        s"ON ta.lang = disc.lang AND ta.tok = disc.tok GROUP BY 1),\n" +
        s"docs AS (SELECT doc_id, lang FROM $MlJson)\n" +
        """SELECT docs.doc_id, docs.lang,
          |  CAST(coalesce(h.n, 0) AS BIGINT) AS stop_hits_lang,
          |  b.base_verdict,
          |  CASE WHEN b.base_verdict = 'keep' AND hl.lang IS NOT NULL
          |    AND coalesce(h.n, 0) < 1 THEN 'stopword'
          |    ELSE b.base_verdict END AS verdict
          |FROM docs JOIN b USING (doc_id) LEFT JOIN h USING (doc_id)
          |LEFT JOIN hl ON docs.lang = hl.lang""".stripMargin)),

    // ── invisible-character hygiene (TextAnalysis.invisibleCount /
    // stripInvisible — the Trojan-Source / dedup-evasion scrub):
    // five planted arms over documents (the q60 pattern) — clean;
    // ZWSP spliced INSIDE a word (splits its token → fingerprint
    // dedup evasion until stripped); an RLO…PDF bidi wrap (flagged,
    // but boundary-adjacent so tokens are unchanged); a BOM prefix
    // (flagged, not evading); ZWJ inside a word (evading). `evaded`
    // compares the raw vs scrubbed token streams directly — the
    // operational reason the scrub must run BEFORE fingerprinting. ──
    QuerySpec("q304_invisible_scrub", (s, dir) => {
      import graft.ext.TextAnalysis
      val id = col("doc_id")
      val a = id % 5
      val g = expr("CAST(doc_id DIV 5 AS BIGINT)").cast("string")
      val txt =
        when(a === 0, concat(lit("alpha beta gamma "), g))
          .when(a === 1, concat(lit("al\u200Bpha beta gamma "), g))
          .when(a === 2,
            concat(lit("alpha \u202Ebeta\u202C gamma "), g))
          .when(a === 3, concat(lit("\uFEFFalpha beta gamma "), g))
          .otherwise(concat(lit("alpha be\u200Dta gamma "), g))
      t(s, dir, "documents").select(id).repartition(32)
        .select(id, txt.as("text"))
        .select(id,
          TextAnalysis.invisibleCount(col("text")).as("n_invisible"),
          TextAnalysis.stripInvisible(col("text")).as("clean_text"),
          (TextAnalysis.tokens(col("text")) =!=
            TextAnalysis.tokens(TextAnalysis.stripInvisible(col("text"))))
            .as("evaded"))
    },
      // invisible-scrub mirror: arms via chr() (ZWSP 8203, RLO 8238,
      // PDF 8236, BOM 65279, ZWJ 8205), detection/scrub via the SAME
      // InvisibleClass constant, evasion as a direct token-list compare
      (s"WITH p AS (SELECT doc_id, doc_id % 5 AS a, " +
        s"CAST(doc_id // 5 AS VARCHAR) AS g FROM documents),\n" +
        """d AS (SELECT doc_id, CASE a
          |  WHEN 0 THEN 'alpha beta gamma ' || g
          |  WHEN 1 THEN 'al' || chr(8203) || 'pha beta gamma ' || g
          |  WHEN 2 THEN 'alpha ' || chr(8238) || 'beta' || chr(8236)
          |    || ' gamma ' || g
          |  WHEN 3 THEN chr(65279) || 'alpha beta gamma ' || g
          |  ELSE 'alpha be' || chr(8205) || 'ta gamma ' || g
          |  END AS text FROM p),
          |""".stripMargin +
        s"c AS (SELECT doc_id, text, regexp_replace(text, " +
        s"'${graft.ext.TextAnalysis.InvisibleClass}', '', 'g') " +
        s"AS clean_text FROM d)\n" +
        s"SELECT doc_id, CAST(len(regexp_extract_all(text, " +
        s"'${graft.ext.TextAnalysis.InvisibleClass}')) AS BIGINT) " +
        s"AS n_invisible, clean_text, " +
        s"${duckUToks("text")} <> ${duckUToks("clean_text")} " +
        s"AS evaded FROM c")),

    // ── confusable-skeleton dedup (TextAnalysis.confusableSkeleton —
    // the q298 detection's NORMALIZATION counterpart): homoglyph-
    // spoofed variants of Latin docs collapse onto their clean twins
    // under the skeleton key, while genuine Cyrillic docs are routed
    // AROUND the fold (scriptProfile dominant gate — the skeleton
    // would mangle real Russian into mixed-script junk; the same
    // mechanism/policy split as q297's normalizer routing). Arms:
    // clean latin + its 3-homoglyph spoof (collapse per DIV-5
    // group), a distinct latin doc, a pure-Cyrillic doc (raw-lower
    // route, untouched), a partnerless spoofed doc (solo keeper). ──
    QuerySpec("q305_confusable_dedup", (s, dir) => {
      import graft.ext.TextAnalysis
      val id = col("doc_id")
      val a = id % 5
      val g = expr("CAST(doc_id DIV 5 AS BIGINT)").cast("string")
      val txt =
        when(a === 0, concat(lit("buy cheap watches here now "), g))
          .when(a === 1,
            concat(lit("buy ch\u0435ap w\u0430tches h\u0435re now "), g))
          .when(a === 2, concat(lit("totally different latin content "), g))
          .when(a === 3, concat(lit("привет мир хорошо "), g))
          .otherwise(concat(lit("sell ch\u0435ap clocks th\u0435re now "), g))
      val docs = t(s, dir, "documents").select(id).repartition(32)
        .select(id, txt.as("text"))
      val prof = TextAnalysis.scriptProfile(docs, "doc_id", "text")
        .select(id, col("dominant"))
      val routed = docs.join(prof, Seq("doc_id"))
        .withColumn("route",
          when(col("dominant") === "latin", lit("skeleton"))
            .otherwise(lit("raw_lower")))
        .withColumn("__key",
          when(col("dominant") === "latin",
            TextAnalysis.confusableSkeleton(col("text")))
            .otherwise(TextAnalysis.lowerU(col("text"))))
        .localCheckpoint()
      val groups = routed.groupBy("__key")
        .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))
      routed.join(groups, Seq("__key"))
        .select(id, col("dominant"), col("route"), col("keep_id"),
          col("n_copies"), (id =!= col("keep_id")).as("is_dup"))
    },
      // confusable-dedup mirror: arms closed-form (Cyrillic е 1077 /
      // а 1072 homoglyphs), dominant via the q292 two-step class
      // filter (planted letters are latin/cyrillic only, so the
      // 5-class greatest reduces to the latin-vs-cyrillic compare with
      // latin winning ties — scriptProfile's declaration order), key
      // = skeleton (translate over the shared Confusable map) on the
      // latin route, fold-lower otherwise
      (s"WITH p AS (SELECT doc_id, doc_id % 5 AS a, " +
        s"CAST(doc_id // 5 AS VARCHAR) AS g FROM documents),\n" +
        """d AS (SELECT doc_id, CASE a
          |  WHEN 0 THEN 'buy cheap watches here now ' || g
          |  WHEN 1 THEN 'buy ch' || chr(1077) || 'ap w' || chr(1072)
          |    || 'tches h' || chr(1077) || 're now ' || g
          |  WHEN 2 THEN 'totally different latin content ' || g
          |  WHEN 3 THEN chr(1087) || chr(1088) || chr(1080) || chr(1074)
          |    || chr(1077) || chr(1090) || ' ' || chr(1084) || chr(1080)
          |    || chr(1088) || ' ' || chr(1093) || chr(1086) || chr(1088)
          |    || chr(1086) || chr(1096) || chr(1086) || ' ' || g
          |  ELSE 'sell ch' || chr(1077) || 'ap clocks th' || chr(1077)
          |    || 're now ' || g
          |  END AS text FROM p),
          |le AS (SELECT doc_id, text,
          |  len(list_filter(regexp_extract_all(text, '\p{L}'),
          |    x -> regexp_matches(x, '\p{Latin}'))) AS latin,
          |  len(list_filter(regexp_extract_all(text, '\p{L}'),
          |    x -> regexp_matches(x, '\p{Cyrillic}'))) AS cyr
          |  FROM d),
          |dm AS (SELECT doc_id, text,
          |  CASE WHEN latin >= cyr AND latin > 0 THEN 'latin'
          |       WHEN cyr > 0 THEN 'cyrillic'
          |       ELSE 'none' END AS dominant FROM le),
          |""".stripMargin +
        s"r AS (SELECT doc_id, dominant, " +
        s"CASE WHEN dominant = 'latin' THEN 'skeleton' " +
        s"ELSE 'raw_lower' END AS route, " +
        s"CASE WHEN dominant = 'latin' THEN translate(" +
        s"${duckLowerU("text")}, " +
        s"'${graft.ext.TextAnalysis.ConfusableSrc}', " +
        s"'${graft.ext.TextAnalysis.ConfusableDst}') " +
        s"ELSE ${duckLowerU("text")} END AS k FROM dm),\n" +
        """gp AS (SELECT k, min(doc_id) AS keep_id, count(*) AS n_copies
          |  FROM r GROUP BY 1)
          |SELECT r.doc_id, r.dominant, r.route, gp.keep_id,
          |  gp.n_copies, r.doc_id <> gp.keep_id AS is_dup
          |FROM r JOIN gp USING (k)""".stripMargin)),

    // ── SQL surface for the custom expression (the U1 discipline:
    // q27 proved a registered UDF surface; this proves the CUSTOM
    // CATALYST EXPRESSION is equally SQL-callable): unicode_tokens,
    // bound by GraftExtensions, invoked from spark.sql text on a
    // Session.fork (which inherits the extensions; the temp view
    // stays off the shared session), certified against q288's oracle
    // VERBATIM. ──
    QuerySpec("q302_unicode_tokens_sql", (s, dir) => {
      val sess = Session.fork(s)
      mlDocs(sess).createOrReplaceTempView("ml_docs")
      sess.sql(
        """SELECT doc_id, lang,
          |  CAST(size(unicode_tokens(text)) AS LONG) AS n_tok,
          |  CAST(size(regexp_extract_all(coalesce(text, ''),
          |    '[A-Za-z0-9]+', 0)) AS LONG) AS n_ascii_runs,
          |  md5(concat_ws(' ', unicode_tokens(text))) AS fp,
          |  try_element_at(unicode_tokens(text), 1) AS first_tok,
          |  try_element_at(unicode_tokens(text), -1) AS last_tok
          |FROM ml_docs""".stripMargin)
    },
      UnicodeTokensSql),

    // ── NFC canonical-composition dedup (plans.NfcNormalize — the
    // q60 planted-variant pattern): five residue arms — precomposed
    // é vs decomposed e+U+0301 (same g-group → must collapse after
    // NFC), OHM/ANGSTROM SIGN singletons vs their Ω/Å canonicals
    // (collapse), conjoining-jamo Hangul (composes, solo group).
    // `changed` certifies exactly which arms the normalizer rewrote;
    // the oracle rebuilds every arm closed-form with chr() codepoints
    // and DuckDB's independent nfc_normalize (JDK NFC == utf8proc
    // NFC: exhaustive diff, zero divergences). ──
    QuerySpec("q295_nfc_dedup", (s, dir) => {
      import graft.ext.TextAnalysis
      val id = col("doc_id")
      val withN = nfcFixture(t(s, dir, "documents"))
        .withColumn("nfc_text", TextAnalysis.nfc(col("text")))
        .withColumn("changed", col("nfc_text") =!= col("text"))
      val groups = withN.groupBy("nfc_text")
        .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))
      withN.join(groups, Seq("nfc_text"))
        .select(id, col("nfc_text"), col("changed"), col("keep_id"),
          col("n_copies"), (id =!= col("keep_id")).as("is_dup"))
    },
      // NFC mirror: arms rebuilt closed-form via chr() codepoints —
      // precomposed e-acute 233, combining acute 769, OHM 8486 /
      // ANGSTROM 8491 vs canonical Ω 937 / Å 197, conjoining jamo
      // 4370/4449/4523 + 글 44544 — normalized by DuckDB's independent
      // nfc_normalize
      (NfcArmsSql +
        """,
          |gp AS (
          |  SELECT nfc_text, min(doc_id) AS keep_id, count(*) AS n_copies
          |  FROM n GROUP BY 1)
          |SELECT n.doc_id, n.nfc_text, n.nfc_text <> n.text AS changed,
          |  gp.keep_id, gp.n_copies, n.doc_id <> gp.keep_id AS is_dup
          |FROM n JOIN gp USING (nfc_text)""".stripMargin)),

    // ── streaming NFC twin (the q294 discipline, second non-ASCII
    // payload class: DECOMPOSED combining marks and conjoining jamo
    // ride the .write.json → landing file → readStream.json envelope
    // raw): the per-row projection half of q295 — nfc_text + changed
    // — replayed over two waves; the dedup-group half is batch-only
    // (append mode carries no aggregates). ──
    QuerySpec("q303_nfc_stream", (s, dir) =>
      graft.streaming.StreamingReports.projectionStreamReplay(
        s, nfcFixture(t(s, dir, "documents")), "doc_id", "text",
        df => df
          .withColumn("nfc_text", graft.ext.TextAnalysis.nfc(col("text")))
          .select(col("doc_id"), col("nfc_text"),
            (col("nfc_text") =!= col("text")).as("changed"))),
      // streaming NFC twin: the per-row half of the q295 mirror (shared
      // NfcArmsSql), no grouping
      (NfcArmsSql +
        """
          |SELECT doc_id, nfc_text, nfc_text <> text AS changed
          |FROM n""".stripMargin))
  )
}
