package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, quality stats, fingerprinting, language ID.
  *
  * Everything here is a plain Catalyst column expression (higher-order
  * array functions, no UDF): fully codegen'd, no serialization boundary,
  * and embarrassingly parallel — per-row work only, so it scales linearly
  * with input splits and never shuffles.
  *
  * Tokenization is deliberately defined by regexes that mean the same
  * thing in Java regex and DuckDB/RE2 so the oracle can reproduce it
  * bit-for-bit.
  */
object TextAnalysis {

  // ── Unicode tokenizer core (round 14) ──────────────────────────
  //
  // The engine-portability groundwork: every piece below is certified
  // bit-for-bit identical between Spark and the DuckDB oracle by
  // EXHAUSTIVE per-codepoint diff over planes 0-2 (tools/LowerDump and
  // PlansSpec's "unicode_tokens expression == SQL-function composition,
  // EXHAUSTIVE per codepoint" test generate the evidence). Two
  // different tables are in play on the Spark side: `lower()` resolves to ICU case
  // mappings (CollationSupport.Lower, icu4j 77 ≈ Unicode 16 — NOT
  // java.lang.String.toLowerCase), while the regex classes
  // `\p{L}\p{M}\p{N}` read the JVM's Character data (JVM 17 =
  // Unicode 13). CONTRACT: certified for codepoints ASSIGNED IN
  // UNICODE 13. Codepoints added later (e.g. Arabic Ext-B U+0870..,
  // Han U+9FFD-9FFF, Vithkuqi, Garay — 876 in the L/M/N class diff)
  // are letters to DuckDB's newer table but unclassifiable to the
  // JVM regex, so they tokenize differently by construction; the
  // exhaustive Spark-vs-DuckDB lower() diff confirms every
  // case-mapping divergence beyond [[LowerPreFoldSrc]] lies in that
  // same Unicode-14+ set — the fold below is COMPLETE for the
  // certified contract.

  /** Codepoints Spark's lower() (ICU) and DuckDB's lowercase
    * differently WITHIN the Unicode-13 contract — the complete set
    * (exhaustive diff over planes 0-2): U+0130 İ (ICU emits
    * i+U+0307 combining dot, DuckDB emits plain i) and three
    * Unicode-12 case mappings DuckDB's table lacks (U+A7C7→A7C8,
    * U+A7C9→A7CA, U+A7F5→A7F6). Each is PRE-folded to a form both
    * engines map identically. The one CONTEXT-SENSITIVE mapping
    * (ICU lowers word-final Σ to ς, DuckDB always to σ) is folded by
    * pre-mapping Σ AND ς to σ, so lower() never sees a capital
    * sigma.
    */
  private[graft] val LowerPreFoldSrc = "İꟇꟉꟵΣς"
  private[graft] val LowerPreFoldDst = "Iꟈꟊꟶσσ"

  /** Engine-portable Unicode lowercase: ONE pre-lower translate folds
    * the four divergent codepoints AND sigma — mapping both Σ (U+03A3)
    * and ς (U+03C2) to σ (U+03C3) up front means lower() never sees a
    * capital sigma, so ICU's context-sensitive word-final Σ→ς
    * mapping (which DuckDB lacks) can never fire; one translate pass
    * instead of a pre+post pair. Null-safe (''). DuckDB mirror, with
    * src/dst the UTF-8 spellings of
    * [[LowerPreFoldSrc]]/[[LowerPreFoldDst]]:
    * `lower(translate(coalesce(x,''), <src>, <dst>))`.
    */
  def lowerU(text: Column): Column =
    lower(translate(coalesce(text, lit("")), LowerPreFoldSrc, LowerPreFoldDst))

  /** Scripts tokenized per-CODEPOINT (no spaces between words, so the
    * single-character token is the standard deterministic heuristic —
    * BLEU's and the dedup literature's zh/ja treatment): Han
    * (URO + Ext-A, compatibility, Ext-B..F plane 2), hiragana and
    * katakana letters/iteration marks (combining voicing marks
    * U+3099-309C deliberately EXCLUDED — isolating them would detach
    * them from NFD bases; NFC input assumed), halfwidth katakana.
    * Hangul and Thai are spaced/run scripts and stay run-tokens.
    * `\x{...}` class ranges parse identically in Java regex and RE2,
    * so the class is version-skew-free by construction.
    */
  val CjkCharClass: String =
    "[\\x{3041}-\\x{3096}\\x{309D}-\\x{30FF}\\x{31F0}-\\x{31FF}" +
      "\\x{3400}-\\x{4DBF}\\x{4E00}-\\x{9FFF}\\x{F900}-\\x{FAFF}" +
      "\\x{FF66}-\\x{FF9D}\\x{20000}-\\x{2FA1F}]"

  /** Space-isolate each CJK codepoint so run-extraction yields one
    * token per ideograph/kana. Null-safe (''). DuckDB mirror:
    * `regexp_replace(x, '(CLASS)', ' \1 ', 'g')` with the same class.
    */
  def cjkIsolate(text: Column): Column =
    regexp_replace(coalesce(text, lit("")), "(" + CjkCharClass + ")", " $1 ")

  /** Lowercase word tokens, UNICODE-AWARE (round 14 — previously the
    * ASCII-Latin `[a-z0-9]+` fast path, which silently no-op'd the
    * shingle-dedup family and word-count gates on non-Latin text):
    * CJK codepoints isolate per-character, then maximal runs of
    * letters+combining marks+digits (`[\p{L}\p{M}\p{N}]+` — marks
    * included so Devanagari/Arabic diacritics don't split words)
    * over [[lowerU]]. On pure-ASCII text this yields EXACTLY the
    * tokens of [[tokensAscii]] (proved by class identity: the ASCII
    * ∩ L/M/N set is [a-z0-9] after lower), so every pre-round-14
    * oracle certification is unchanged. DuckDB mirror:
    * `regexp_extract_all(<lowerU mirror of cjkIsolate(x)>, '[\p{L}\p{M}\p{N}]+')`.
    *
    * Execution is the single-pass codegen'd
    * [[graft.plans.UnicodeTokens]] expression (the four-step
    * SQL-function spelling below, [[tokensComposed]], measured
    * 25-100% slower on the token-heavy bench queries); PlansSpec pins
    * expression == composition EXHAUSTIVELY per codepoint, so the
    * DuckDB mirror certifies both.
    *
    * NULL CONTRACT (changed round 14, deliberately): NULL text yields
    * an EMPTY array, not NULL — the classify-every-input posture
    * (`size(tokens(x))` counts 0, `explode` drops the row cleanly).
    * The pre-round-14 regex form propagated NULL; no oracle relied on
    * that (the full gate re-certified through the swap), and
    * [[tokensAscii]] is coalesced the same way so the two stay
    * interchangeable on ASCII including the NULL arm.
    */
  def tokens(text: Column): Column = graft.plans.UnicodeTokens.of(text)

  /** The SQL-function spelling of [[tokens]]' contract — what the
    * DuckDB oracle mirrors verbatim (UnicodeQueries.duckUToks) and what
    * PlansSpec compares the expression against.
    */
  def tokensComposed(text: Column): Column =
    regexp_extract_all(lowerU(cjkIsolate(text)), lit("[\\p{L}\\p{M}\\p{N}]+"), lit(0))

  /** The pre-round-14 ASCII-Latin tokenizer, kept for callers that
    * want the cheaper single-regex path on known-ASCII columns.
    * Coalesced so its NULL arm matches [[tokens]] (empty array) —
    * swapping the two on ASCII data must never change a result.
    */
  def tokensAscii(text: Column): Column =
    regexp_extract_all(lower(coalesce(text, lit(""))),
      lit("[a-z0-9]+"), lit(0))

  /** Unicode NFC canonical composition
    * ([[graft.plans.NfcNormalize]]): the dedup-key pre-pass for text
    * arriving in mixed precomposed/decomposed form (é vs e+U+0301,
    * OHM SIGN vs Ω, conjoining jamo vs Hangul syllables). JDK NFC ==
    * DuckDB `nfc_normalize` exactly (exhaustive per-codepoint diff,
    * planes 0-2, zero divergences — the stability-policy contrast to
    * case mapping's 71); null-safe (''), non-nullable output.
    */
  def nfc(text: Column): Column = graft.plans.NfcNormalize.of(text)

  /** BPE-ish pre-tokenizer count: letter runs, digit runs, single
    * non-alnum marks (the usual byte-pair pre-split shape).
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  /** Consecutive k-word shingles, space-joined; empty array when the doc
    * has fewer than k tokens.
    */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", (1 to k).map(j => element_at(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Distinct shingle set of a text column — the feature set for
    * minhash / simhash / n-gram-Jaccard dedup.
    *
    * PERF HAZARD: this builds ONE expression tree in which the
    * `tokens()` regexp subtree is duplicated ~5× (size checks +
    * element_at inside the transform lambda), and Spark does no CSE
    * inside a single tree — the regex re-runs per shingle element.
    * Fine for specs/small frames; scale paths must use
    * `withShingleSet`, which materializes tokens as a column first
    * (measured ~40× cheaper at sf0.1).
    */
  def shingleSet(text: Column, k: Int): Column =
    array_distinct(shingles(tokens(text), k))

  /** Scale-safe shingle set: tokens materialized once per row in their
    * own projection (a non-cheap expression referenced multiple times
    * is not inlined by CollapseProject), so the transform lambda's
    * element_at hits a computed array instead of re-tokenizing.
    */
  def withShingleSet(df: DataFrame, textCol: String, k: Int, outCol: String): DataFrame =
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn(outCol, array_distinct(shingles(col("__toks"), k)))
      .drop("__toks")

  /** Small function-word list used for the quality stop_ratio stat. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to", "is")

  // ── invisible-character hygiene (round 14) ─────────────────────

  /** Zero-width and bidi-control codepoints (the Trojan-Source /
    * dedup-evasion set): ZWSP/ZWNJ/ZWJ plus the LRM/RLM bidi marks
    * (U+200B-200F — LRM/RLM included per review: they are the two
    * most common bidi marks and split tokens exactly like ZWSP),
    * word joiner (U+2060), BOM/ZWNBSP (U+FEFF), Arabic letter mark
    * (U+061C), bidi embeds/overrides/pops (U+202A-202E) and isolates
    * (U+2066-2069). All are Cf — format characters the tokenizer
    * treats as BOUNDARIES, so a splice inside a word SPLITS its
    * token and evades exact/fingerprint dedup until stripped.
    * `\x{...}` class syntax parses identically in Java regex and
    * RE2, so the oracle interpolates this constant verbatim.
    */
  private[graft] val InvisibleClass: String =
    "[\\x{061C}\\x{200B}-\\x{200F}\\x{2060}" +
      "\\x{2066}-\\x{2069}\\x{202A}-\\x{202E}\\x{FEFF}]"

  /** Count of invisible codepoints (detection signal). Null-safe. */
  def invisibleCount(text: Column): Column =
    size(regexp_extract_all(coalesce(text, lit("")),
      lit(InvisibleClass), lit(0))).cast("long")

  /** Text with invisible codepoints removed (the scrub every corpus
    * intake should run before fingerprinting). Null-safe ('').
    */
  def stripInvisible(text: Column): Column =
    regexp_replace(coalesce(text, lit("")), InvisibleClass, "")

  // ── encoding-damage / mojibake gate (round 15) ─────────────────

  /** U+FFFD REPLACEMENT CHARACTER — what a lenient decoder mints for
    * every malformed byte sequence ([[graft.plans.Transcode]]
    * lenient mode, [[graft.ext.FetchDecode]]'s wrong-declaration and
    * fallback legs).
    */
  private[graft] val FffdClass = "[\\x{FFFD}]"

  /** C1 controls U+0080-U+009F — the signature of cp1252 bytes
    * decoded as latin-1 (the 0x80-0x9F page maps straight through):
    * no legitimate web text carries them.
    */
  private[graft] val C1Class = "[\\x{0080}-\\x{009F}]"

  /** The classic UTF-8-decoded-as-cp1252 double-encoding pair: a
    * 2-byte UTF-8 lead for the Latin-1 range (0xC2/0xC3 → Â/Ã)
    * followed by the cp1252 GLYPH IMAGE of a continuation byte —
    * U+00A0-BF straight through, the 0x80-0x9F page remapped to its
    * cp1252 punctuation/letters (€ ‚ ƒ „ … † ‡ ˆ ‰ Š ‹ Œ Ž ' ' " "
    * • – — ˜ ™ š › œ ž Ÿ), or a raw C1 when the damage went through
    * latin-1 instead. "cafÃ©" is "café" double-encoded.
    */
  private[graft] val MojibakePairClass: String =
    "[\\x{00C2}\\x{00C3}]" +
      "[\\x{00A0}-\\x{00BF}\\x{0080}-\\x{009F}" +
      "\\x{20AC}\\x{201A}\\x{0192}\\x{201E}\\x{2026}\\x{2020}\\x{2021}" +
      "\\x{02C6}\\x{2030}\\x{0160}\\x{2039}\\x{0152}\\x{017D}" +
      "\\x{2018}\\x{2019}\\x{201C}\\x{201D}\\x{2022}\\x{2013}\\x{2014}" +
      "\\x{02DC}\\x{2122}\\x{0161}\\x{203A}\\x{0153}\\x{017E}\\x{0178}]"

  /** Routing thresholds (integer ppm of CHARACTERS / absolute pair
    * count) — shared with the oracle by interpolation.
    */
  private[graft] val FffdMaxPpm = 1000L
  private[graft] val C1MaxPpm = 1000L
  private[graft] val MojiMinPairs = 2L

  /** Encoding-damage quality gate — the detector for decode damage
    * the lenient legs of [[graft.ext.FetchDecode]] let through BY
    * DESIGN (a wrong charset declaration yields U+FFFD text, not a
    * kill; a cp1252 page burned through a latin-1 path yields C1
    * controls; text UTF-8-encoded twice yields Ã/Â pairs). Verdict
    * precedence: `replacement_damage` (U+FFFD rate ≥ [[FffdMaxPpm]])
    * > `double_encoded` (≥ [[MojiMinPairs]] mojibake pairs — an
    * absolute count: two independent pair hits are already a
    * near-impossible accident in clean text) > `c1_controls` (C1
    * rate ≥ [[C1MaxPpm]]) > `clean`. Genuine accented text (é, a
    * bare Ã before a space) triggers NOTHING — certified by q309's
    * benign arm.
    *
    * Output: (idCol, n_chars, fffd_ppm, moji_pairs, c1_ppm,
    * verdict). Rates are exact-integer ppm over CHARACTERS (the
    * pmod form; DuckDB mirrors with //). 100-TB shape: a pure
    * per-row projection behind one Generate barrier (the q215
    * class); no shuffle, nothing collected.
    */
  def encodingDamage(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    def cnt(cls: String) =
      size(regexp_extract_all(t, lit(cls), lit(0))).cast("long")
    val staged = df.select(col(idCol),
      explode_outer(array(struct(
        length(t).cast("long").as("n_chars"),
        cnt(FffdClass).as("n_fffd"),
        cnt(MojibakePairClass).as("moji_pairs"),
        cnt(C1Class).as("n_c1")))).as("m"))
      .select(col(idCol), col("m.*"))
    def ppm(c: Column, n: Column) = when(n === 0, lit(0L))
      .otherwise(((c * 1000000L - pmod(c * 1000000L, n)) / n).cast("long"))
    val fffdPpm = ppm(col("n_fffd"), col("n_chars"))
    val c1Ppm = ppm(col("n_c1"), col("n_chars"))
    staged.select(col(idCol), col("n_chars"),
      fffdPpm.as("fffd_ppm"), col("moji_pairs"), c1Ppm.as("c1_ppm"),
      when(fffdPpm >= FffdMaxPpm, lit("replacement_damage"))
        .when(col("moji_pairs") >= MojiMinPairs, lit("double_encoded"))
        .when(c1Ppm >= C1MaxPpm, lit("c1_controls"))
        .otherwise(lit("clean")).as("verdict"))
  }

  // ── confusable-skeleton dedup (round 14) ───────────────────────

  /** The uncontroversial Cyrillic→Latin homoglyph core (per Unicode
    * confusables: а е о р с у х і ѕ ј — lowercase letters whose
    * glyphs are IDENTICAL to Latin a e o p c y x i s j in most
    * fonts). Exposed for oracle interpolation.
    */
  private[graft] val ConfusableSrc = "аеорсухіѕј"
  private[graft] val ConfusableDst = "aeopcyxisj"

  /** Confusable skeleton: [[lowerU]] + the homoglyph fold — the
    * dedup key that catches homoglyph-spoofed variants of Latin
    * text (the q298 detection's NORMALIZATION counterpart).
    * CONTRACT: apply to LATIN-DOMINANT docs only (route via
    * [[scriptProfile]]) — on genuine Cyrillic text the fold mangles
    * real words into mixed-script junk. DuckDB mirror:
    * `translate(<lowerU mirror>, <src>, <dst>)`.
    */
  def confusableSkeleton(text: Column): Column =
    translate(lowerU(text), ConfusableSrc, ConfusableDst)

  /** Canonical content fingerprint: md5 over the normalized token
    * stream (whitespace/case/punctuation-insensitive).
    */
  def fingerprint(toks: Column): Column = md5(concat_ws(" ", toks))

  /** Per-document quality/statistics projection (one narrow pass, no
    * shuffle). Input needs `idCol`, `textCol`; keeps `keep` columns.
    */
  def textStats(df: DataFrame, idCol: String, textCol: String, keep: Seq[String] = Nil): DataFrame = {
    val withToks = df.withColumn("__toks", tokens(col(textCol)))
      .filter(size(col("__toks")) > 0)
    val toks = col("__toks")
    val nTokens = size(toks)
    withToks.select(
      (col(idCol) +: keep.map(col)) ++ Seq(
        length(col(textCol)).as("n_chars_m"),
        nTokens.as("n_tokens"),
        size(array_distinct(toks)).as("n_types"),
        (size(array_distinct(toks)).cast("double") / nTokens).as("ttr"),
        (length(concat_ws("", toks)).cast("double") / nTokens).as("avg_token_len"),
        (size(filter(toks, t => t.isin(Stopwords: _*))).cast("double") / nTokens)
          .as("stop_ratio"),
        bpeTokenCount(col(textCol)).as("n_bpe"),
        fingerprint(toks).as("fingerprint")): _*)
  }

  /** Language-ID heuristic: score each language by its function-word
    * hit-rate in the token stream and take the argmax ("und" when no
    * profile matches at all). A closed-form chain of codegen'd array
    * expressions — no UDF, no shuffle; per-row cost is
    * |langs| × |profile| membership tests.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "with", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "las", "por", "con", "una"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "des", "une", "dans", "pour", "que"),
    "it" -> Seq("il", "di", "che", "la", "per", "una", "sono", "non", "con", "del"))

  def langGuess(text: Column): Column = {
    val toks = tokens(text)
    val scores = LangProfiles.map { case (lang, words) =>
      lang -> size(filter(toks, t => t.isin(words: _*)))
    }
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((lang, score), acc) =>
      when(score === best && best > 0, lang).otherwise(acc)
    }
  }

  /** Scale-safe language ID (the certified form): `langGuess` above
    * builds one tree in which the tokenizer regex is duplicated per
    * language profile AND per tie-break reference (~15 regex runs per
    * row — the same no-CSE hazard as `shingleSet`). Here tokens and
    * the per-language score array are each materialized once in their
    * own projection; the argmax when-chain then reads the cheap array
    * column. Ties resolve to the first profile in declaration order;
    * zero hits (or null text) → "und".
    */
  def withLangGuess(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val scored = df
      .withColumn("__toks", tokens(col(textCol)))
      .withColumn("__scores", array(LangProfiles.map { case (_, words) =>
        size(filter(col("__toks"), t => t.isin(words: _*)))
      }: _*))
    val best = array_max(col("__scores"))
    val guess = LangProfiles.zipWithIndex.foldRight(lit("und")) {
      case (((lang, _), i), acc) =>
        when(element_at(col("__scores"), i + 1) === best && best > 0, lang).otherwise(acc)
    }
    scored.withColumn(outCol, guess).drop("__toks", "__scores")
  }

  /** Rolling-hash document fingerprint over the normalized token
    * stream: h = fold(tokens, 0, (acc, t) -> (acc·B + h48(t)) mod M)
    * with B = 1000003 and M = 2^40. Engine-portable by construction:
    * h48 is the 48-bit md5 prefix (same primitive as SimHash), and
    * (M-1)·B + 2^48 < 2^63 keeps every intermediate inside a signed
    * 64-bit integer in ANY engine — Spark would wrap silently on
    * overflow while DuckDB errors, so the mod is load-bearing, not
    * cosmetic. Unlike the order-insensitive md5 `fingerprint`, token
    * ORDER changes the value, so transposed documents get distinct
    * fingerprints while whitespace/case/punct noise does not.
    */
  val RollBase = 1000003L
  val RollMod: Long = 1L << 40

  def rollingFingerprint(toks: Column): Column =
    aggregate(
      transform(toks, t =>
        conv(substring(md5(t), 1, 12), 16, 10).cast("long")),
      lit(0L),
      (acc, h) => (acc * RollBase + h) % RollMod)

  /** CONTENT-DEFINED chunking (the Rabin/CDC discipline backup and
    * storage-dedup systems use, on the token stream): a chunk
    * boundary falls AFTER token i iff hash(token_i) has its low
    * `maskBits` bits zero — so boundaries are decided by LOCAL
    * content, never by absolute position. That is the whole point:
    * insert or delete a token and only the edited chunk (and at most
    * its boundary neighbor) changes fingerprint, while FIXED-size
    * chunking shifts every downstream chunk (the spec proves both
    * sides of that claim). Expected chunk length ≈ 2^maskBits
    * tokens; the per-token hash is the q48 md5-12-hex device and the
    * per-chunk fingerprint the order-sensitive [[rollingFingerprint]]
    * fold, so cross-doc shared chunks collide exactly.
    *
    * 100-TB shape: tokens explode once; the boundary flag is a
    * pure projection; the running boundary count is a window
    * PARTITIONED BY DOCUMENT (parallel across docs — per-doc token
    * counts are bounded, nothing global); the chunk fold is a
    * per-(doc, chunk) aggregate. No min/max chunk clamps — the
    * stateful variant needs a sequential per-doc fold and is the
    * documented extension.
    *
    * Returns (idCol, chunk_idx, n_tokens, chunk_fp).
    */
  def contentDefinedChunks(
      df: DataFrame, idCol: String, textCol: String,
      maskBits: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maskBits >= 1 && maskBits <= 20,
      s"maskBits must be in [1, 20], got $maskBits")
    val modulus = 1L << maskBits
    val tok = df
      .select(col(idCol), posexplode_outer(tokens(col(textCol)))
        .as(Seq("__p", "__t")))
      .filter(col("__t").isNotNull)
      .select(col(idCol), col("__p"),
        conv(substring(md5(col("__t")), 1, 12), 16, 10).cast("long")
          .as("__h"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__p"))
      .rowsBetween(Window.unboundedPreceding, -1)
    tok
      .withColumn("__b",
        when(pmod(col("__h"), lit(modulus)) === 0L, 1L).otherwise(0L))
      .withColumn("chunk_idx", coalesce(sum(col("__b")).over(w), lit(0L)))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(count(lit(1)).as("n_tokens"),
        aggregate(
          transform(array_sort(collect_list(struct(col("__p"), col("__h")))),
            x => x.getField("__h")),
          lit(0L),
          (acc, h) => (acc * RollBase + h) % RollMod).as("chunk_fp"))
  }

  /** Chunk-overlap near-duplicate pairs — the dedup method
    * [[contentDefinedChunks]] exists to feed (the backup-system
    * insight applied to corpora): because chunk boundaries are
    * content-defined, an edited copy still shares most chunk
    * fingerprints with its original, so docs pair on chunk-set
    * Jaccard — robust to insertions in a way fixed-stride shingle
    * comparison is not. Pairs generate through the shared-fingerprint
    * equi-join (docs with NO shared chunk never meet — never
    * all-pairs); Jaccard is integer cross-multiplied:
    * shared·den ≥ num·(n_a + n_b − shared).
    *
    * 100-TB shape: one fp-keyed self-join over the chunk table
    * (bounded by real sharing, the minhash-band argument), per-doc
    * chunk counts a tiny aggregate joined onto candidates. A
    * degenerate fingerprint shared by thousands of docs is the
    * stop-gram class — cap upstream with a document-frequency drop
    * at open-web scale (the q147 discipline).
    * Returns (id_a, id_b, shared_chunks, n_a, n_b), id_a < id_b.
    */
  def chunkOverlapPairs(
      chunks: DataFrame, idCol: String, fpCol: String,
      tauNum: Int = 1, tauDen: Int = 2): DataFrame = {
    require(tauNum > 0 && tauDen > 0, "tau must be a positive fraction")
    val sets = chunks.select(col(idCol).as("__doc"), col(fpCol).as("__fp"))
      .distinct()
    val n = sets.groupBy(col("__doc")).agg(count(lit(1)).as("__n"))
    sets.as("a").join(sets.as("b"),
        col("a.__fp") === col("b.__fp") && col("a.__doc") < col("b.__doc"))
      .groupBy(col("a.__doc").as("id_a"), col("b.__doc").as("id_b"))
      .agg(count(lit(1)).as("shared_chunks"))
      .join(n.as("na"), col("id_a") === col("na.__doc"))
      .join(n.as("nb"), col("id_b") === col("nb.__doc"))
      .filter(col("shared_chunks") * tauDen >=
        (col("na.__n") + col("nb.__n") - col("shared_chunks")) * tauNum)
      .select(col("id_a"), col("id_b"), col("shared_chunks"),
        col("na.__n").as("n_a"), col("nb.__n").as("n_b"))
  }

  /** Top-N TF-IDF terms per document. idf is the DIVISION form
    * n_docs/df (not log): one double division and one multiply, both
    * exactly-rounded IEEE ops on the same operands in any engine —
    * log's last-ulp varies by libm, which would break bit-level
    * cross-engine parity; the ranking it induces is identical (x ↦
    * ln x is monotone). Shuffle shape: one (doc, token) aggregate for
    * tf, a token-keyed aggregate for df, a join back on token (AQE
    * picks broadcast when the vocabulary is small), and the per-doc
    * top-N window — all keyed, no driver materialization; the 1-row
    * n_docs aggregate is the only broadcast.
    */
  def tfIdf(df: DataFrame, idCol: String, textCol: String, topN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = tf.agg(count_distinct(col(idCol)).as("n_docs"))
    val w = Window.partitionBy(idCol).orderBy(col("tfidf").desc, col("token"))
    tf.join(dfreq, "token")
      .crossJoin(nDocs)
      .withColumn("tfidf",
        col("tf").cast("double") * (col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col(idCol), col("token"), col("tf"), col("df"), col("tfidf"), col("rank"))
  }

  /** PII scrubbing: emails, international-format phone numbers, and
    * 13-16-digit card-like runs replaced by typed placeholder tags.
    * Patterns avoid every Java-vs-RE2 divergence (no lookaround, no
    * backreferences, no \d classes) so the oracle reproduces the
    * rewrite; replacement is global in both engines. A pure per-row
    * projection — scan-parallel, no shuffle.
    */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
  val PhoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
  val CardRe = "[0-9]{13,16}"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]"),
      CardRe, "[NUM]")

  def piiCounts(text: Column): (Column, Column) =
    (size(regexp_extract_all(text, lit(EmailRe), lit(0))),
      size(regexp_extract_all(text, lit(PhoneRe), lit(0))))

  /** Sliding-window token chunking with overlap — context-window prep:
    * each document becomes ceil(n/stride) chunks of up to `chunkSize`
    * tokens starting every `stride` tokens (stride < chunkSize ⇒
    * overlapping context). One explode over per-row start offsets; no
    * shuffle, ~n/stride output rows per doc. Tokens are materialized
    * once per row before the explode (the shingleSet CSE lesson).
    */
  def chunkTokens(
      df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    df.withColumn("__toks", tokens(col(textCol)))
      .filter(size(col("__toks")) > 0)
      .withColumn("__start",
        explode(sequence(lit(0), size(col("__toks")) - 1, lit(stride))))
      .select(col(idCol),
        (col("__start") / stride).cast("long").as("chunk_id"),
        col("__start").cast("long").as("chunk_start"),
        size(slice(col("__toks"), col("__start") + 1, lit(chunkSize))).as("chunk_len"),
        concat_ws(" ", slice(col("__toks"), col("__start") + 1, lit(chunkSize)))
          .as("chunk_text"))
  }

  /** Repetition ratio (boilerplate/spam signal, the Gopher-style
    * repeated-n-gram quality filter): share of k-gram occurrences that
    * are duplicates of an earlier k-gram in the same document. Pure
    * per-row projection; the ratio divides two exact integers, so
    * cross-engine parity is structural.
    *
    * The ratio is emitted through explode_outer(array(…)), not a plain
    * alias — this is load-bearing, a THIRD form of the no-CSE hazard:
    * a downstream `filter(ratio < x)` on a plain alias is rewritten by
    * predicate pushdown, which substitutes the alias chain into the
    * scan predicate (__grams 3×, each re-tokenizing per element —
    * measured 0.8 s → 27 s at sf0.1). A predicate on a GENERATE output
    * cannot be pushed below the Generate, and the outer variant keeps
    * InferFiltersFromGenerate from synthesizing the same hazard back
    * (the Dedup explode_outer lesson). A nondeterministic barrier
    * column does NOT work: ColumnPruning deletes it before pushdown
    * runs.
    */
  def repetitionRatio(df: DataFrame, textCol: String, k: Int, outCol: String): DataFrame =
    df.withColumn("__toks", tokens(col(textCol)))
      .withColumn("__grams", shingles(col("__toks"), k))
      .withColumn(outCol,
        explode_outer(array(
          when(size(col("__grams")) > 0,
            (size(col("__grams")) - size(array_distinct(col("__grams")))).cast("double")
              / size(col("__grams")).cast("double"))
            .otherwise(lit(0.0)))))
      .drop("__toks", "__grams")

  /** Sequence packing: assign documents to fixed token-budget training
    * chunks by cumulative token offset — chunk = floor(offset/budget)
    * where offset is the running token total of all PRECEDING docs in
    * (partitionCol, order by idCol). Deterministic and one window pass;
    * the partition column bounds each window (pack per source/shard —
    * a GLOBAL ordering would funnel 100 TB through one task, which is
    * why the operator requires a partition key). Docs longer than the
    * budget simply span chunks (the offset math stays exact).
    */
  def packSequences(
      df: DataFrame, partitionCol: String, idCol: String,
      nTokens: Column, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.partitionBy(partitionCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("n_tok", nTokens)
      .withColumn("tok_offset", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("chunk", floor(col("tok_offset") / lit(budget)))
  }

  /** Loss-mask / attention spans for PACKED training sequences — the
    * metadata a trainer needs when [[packSequences]] lets documents
    * straddle chunk boundaries: one row per (partition, chunk, doc)
    * with the doc's span INSIDE that chunk (span_start, span_len) and
    * head/tail flags, so the training job can mask cross-document
    * attention and know where loss windows begin without re-deriving
    * offsets. Invariants (spec'd): a doc's span_len sums to its
    * n_tok across chunks; a chunk's spans sum to `budget` except the
    * partition's last chunk.
    *
    * All arithmetic is the integer pmod floor-div idiom — no
    * fractional division, exact at any offset. Shape: the
    * packSequences window (per-partition cumulative offsets, the
    * partition key bounds the window) plus a ≤(n_tok/budget+1)-element
    * explode per doc; no extra shuffle.
    */
  def packMaskSpans(
      df: DataFrame, partitionCol: String, idCol: String,
      nTokens: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    def fdiv(x: Column): Column =
      ((x - pmod(x, lit(budget))) / budget).cast("long")
    val packed = packSequences(df, partitionCol, idCol, nTokens, budget)
    val off = col("tok_offset")
    val n = col("n_tok")
    packed.filter(n > 0)
      .select(col(partitionCol), col(idCol), n, off,
        explode(sequence(fdiv(off), fdiv(off + n - 1))).as("chunk"))
      .select(col(partitionCol), col(idCol), col("chunk"),
        greatest(off - col("chunk") * budget, lit(0L)).as("span_start"),
        (least(off + n, (col("chunk") + 1) * budget) -
          greatest(off, col("chunk") * budget)).as("span_len"),
        (off >= col("chunk") * budget).as("is_head"),
        (off + n <= (col("chunk") + 1) * budget).as("is_tail"))
  }

  /** Vocabulary-rarity quality score: per document, the mean DOCUMENT
    * FREQUENCY of its distinct tokens — low mean-df docs use rare
    * vocabulary (jargon, misspellings, other languages), high mean-df
    * docs are built from corpus-common words. The integer twin of the
    * perplexity-style "-mean log p(token)" filter: a corpus-statistics
    * LM score with the log dropped, which keeps every intermediate an
    * exact BIGINT (sums of counts) so the ONLY floating-point op is the
    * final division — cross-engine exact, unlike log/exp whose last ulp
    * is libm-dependent and would break oracle hash parity.
    *
    * Shape: distinct (doc, token) aggregate, token-keyed df aggregate
    * (output = vocabulary size), broadcast-or-shuffle join back on
    * token, one doc-keyed sum — the same two-aggregate skeleton as
    * [[tfIdf]], all partial-agg friendly, nothing driver-side.
    */
  def tokenRarity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val types = df
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .distinct()
    val dfreq = types.groupBy("token").agg(count(lit(1)).as("df"))
    types.join(dfreq, "token")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_types"), sum(col("df")).as("sum_df"))
      .withColumn("mean_df",
        col("sum_df").cast("double") / col("n_types").cast("double"))
  }

  /** Vocabulary-bounded token co-occurrence with integer lift — the
    * distributional-association analysis (PMI's integer twin: lift =
    * P(a,b)/(P(a)P(b)) = (n_ab·n_docs)/(df_a·df_b), scaled to ppm and
    * kept in BIGINT div arithmetic so it is engine-exact; the log of
    * PMI would be libm-dependent in the last ulp).
    *
    * The scale trick is the VOCABULARY BOUND: pair space is capped at
    * vocabK² by restricting to the top-vocabK tokens by document
    * frequency (TakeOrdered + broadcast), so the per-document self-join
    * fans out at most |doc ∩ vocab|² pairs — corpus size only enters
    * through the linear distinct-(doc,token) aggregate. Unbounded
    * co-occurrence over a 100-TB corpus is quadratic in vocabulary and
    * never viable; every real collocation pipeline prunes vocabulary
    * first.
    *
    * Overflow bound: n_ab·n_docs·10^6 must fit BIGINT — safe to ~3M
    * docs at full support; at larger corpora compute lift on a
    * deterministic document sample or move the product to DECIMAL(38).
    *
    * Returns the topK pairs by co-occurrence count (ties broken by the
    * pair — total order): (tok_a, tok_b, n_ab, df_a, df_b, lift_ppm).
    */
  def coocLift(
      df: DataFrame, idCol: String, textCol: String,
      vocabK: Int, topK: Int): DataFrame = {
    require(vocabK >= 2 && topK >= 1, s"need vocabK >= 2, topK >= 1; got $vocabK, $topK")
    val toks = df
      .select(col(idCol).as("__id"), explode(tokens(col(textCol))).as("token"))
      .distinct()
    val nDocs = df.select(col(idCol)).distinct()
      .agg(count(lit(1)).as("n_docs"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token")).limit(vocabK)
    val vt = toks.join(vocab.select("token"), "token")
    vt.as("a")
      .join(vt.as("b"), col("a.__id") === col("b.__id") && col("a.token") < col("b.token"))
      .groupBy(col("a.token").as("tok_a"), col("b.token").as("tok_b"))
      .agg(count(lit(1)).as("n_ab"))
      .join(vocab.select(col("token").as("tok_a"), col("df").as("df_a")), "tok_a")
      .join(vocab.select(col("token").as("tok_b"), col("df").as("df_b")), "tok_b")
      .crossJoin(nDocs)
      .withColumn("lift_ppm", expr("(n_ab * n_docs * 1000000) div (df_a * df_b)"))
      .select("tok_a", "tok_b", "n_ab", "df_a", "df_b", "lift_ppm")
      .orderBy(col("n_ab").desc, col("tok_a"), col("tok_b"))
      .limit(topK)
  }

  /** Duplicate n-gram audit (the corpus-level view of repetition): the
    * topK n-grams by total occurrence count across the corpus, with the
    * number of distinct documents each appears in. This is the
    * diagnostic behind substring-level dedup decisions — boilerplate
    * (headers, license blocks, navigation chrome) shows up as n-grams
    * with huge n_occ spread over many docs, while within-doc repetition
    * shows high n_occ concentrated in few docs.
    *
    * Shape: tokens materialized once per row (the CSE lesson above),
    * explode to (gram, id), ONE hash aggregate on gram — count(*) is
    * map-side partial, count(distinct id) is Spark's standard two-phase
    * distinct expansion — then TakeOrderedAndProject for the topK
    * (never a global sort: only topK rows per partition cross the final
    * exchange, so the reduce side is O(topK), not O(|grams|)).
    */
  def ngramHotspots(
      df: DataFrame, idCol: String, textCol: String, n: Int, topK: Int): DataFrame = {
    require(n >= 1 && topK >= 1, s"n and topK must be >= 1, got n=$n topK=$topK")
    df.withColumn("__toks", tokens(col(textCol)))
      .select(col(idCol), explode(shingles(col("__toks"), n)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col(idCol)).as("n_docs"))
      .orderBy(col("n_occ").desc, col("ngram"))
      .limit(topK)
  }

  /** One round of BPE vocabulary induction: corpus-weighted adjacent
    * character-pair frequencies, topK candidates for the first merge.
    * The distributed-tokenizer-training trick is the two-level
    * aggregation: the corpus collapses to DISTINCT (token, count) first
    * — vocabulary-sized, not corpus-sized — and the quadratic-ish
    * pair explosion runs over that small side only, weighted by the
    * count. At 100 TB the token-count aggregate is the only
    * corpus-scale shuffle (map-side combinable); the pair stage touches
    * |vocab| rows regardless of corpus size, which is why real BPE
    * trainers (and this operator) never explode pairs from raw text.
    *
    * Pairs are substring(token, i, 2) for i in 1..len-1 — tokens are
    * lowercase alnum runs, so a 2-char substring IS the symbol pair at
    * the first merge step. Length-1 tokens are filtered BEFORE the
    * sequence() explode (sequence(1,0) would generate a descending
    * range — the epochMix lesson).
    */
  def bpePairStats(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val wordCounts = df
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("wc"))
    wordCounts
      .filter(length(col("token")) >= 2)
      .select(col("wc"),
        explode(sequence(lit(1), length(col("token")) - 1)).as("i"),
        col("token"))
      .select(expr("substring(token, i, 2)").as("pair"), col("wc"))
      .groupBy("pair").agg(sum(col("wc")).as("freq"))
      .orderBy(col("freq").desc, col("pair"))
      .limit(topK)
  }

  /** Tokenizer-vocabulary build: corpus token counts, thresholded at
    * `minCount`, with CONTIGUOUS ids 0..|V|−1 assigned in (count desc,
    * token) order — a total order, so the id assignment is
    * engine-exact. This is the vocab table a tokenizer trains against
    * (ids dense for embedding-matrix rows, frequency-ranked so common
    * tokens get small ids).
    *
    * Shape: the corpus-scale work is ONE token explode + hash groupBy
    * (partial-agg counts); the global row_number sort runs on the
    * POST-threshold vocab only — millions of rows at worst, not the
    * corpus — the same "rank the aggregate, not the data" call as
    * TopK. For a vocab too big even for that, swap the window for
    * zipWithIndex over a range-partitioned sort.
    */
  def buildVocab(df: DataFrame, textCol: String, minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .withColumn("token_id", row_number().over(w) - 1)
  }

  /** Inverted index build (the search/retrieval side of a corpus
    * pipeline): per token, document frequency, total term frequency,
    * and the full POSTING LIST — (doc:pos) pairs in (doc_id, pos)
    * order, rendered as one canonical string so the artifact is
    * byte-comparable across engines. `minDf`/`maxDf` bound the posting
    * rows: the df cap is the stop-token guard every real index needs
    * (an uncapped "the" posting row is unboundedly wide — same hazard
    * as the Jaccard stop-shingle cap in Dedup).
    *
    * Shape: one posexplode + one hash groupBy; the per-token
    * collect_list is bounded by maxDf × positions, enforced BEFORE any
    * wide row materializes only in the sense that capped tokens are
    * dropped post-agg — at true stop-word scale, pre-filter with a df
    * pre-pass (the buildVocab aggregate) before collecting.
    */
  def invertedIndex(
      df: DataFrame, idCol: String, textCol: String,
      minDf: Long, maxDf: Long): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf, s"bad df bounds [$minDf, $maxDf]")
    df.select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "token")))
      .groupBy("token")
      .agg(
        count_distinct(col("doc_id")).as("df"),
        count(lit(1)).as("tf_total"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("doc_id"), col("pos")))),
          p => concat(p("doc_id"), lit(":"), p("pos")))).as("postings"))
      .filter(col("df").between(minDf, maxDf))
  }

  /** Cross-corpus n-gram novelty — the CCNet-shaped LM-free quality /
    * drift signal: for each scored document, how many of its token
    * n-gram OCCURRENCES were never seen in the reference corpus. High
    * novelty flags off-distribution text (new domain, garbled OCR,
    * spam) without training a language model; near-zero novelty
    * against a benchmark-derived reference is a contamination smell
    * (the q87 direction at small n). All-integer outputs — exact
    * under the oracle hash, no log-prob float folds. Pick n against
    * the corpus vocabulary: on the ~31-token synthetic vocab, bigrams
    * saturate (mean unseen 0.5% — the q147 vacuity trap) while
    * trigrams spread the full 0..0.97 range.
    *
    * Shape: the reference collapses to its DISTINCT n-gram set (one
    * aggregate, vocabulary-bounded); scored docs explode to n-gram
    * occurrences and LEFT JOIN the set — one hash join, no per-doc
    * state. Short docs (< n tokens) keep a row with n_grams = 0 via
    * the left join from the doc spine.
    */
  def ngramNovelty(
      scored: DataFrame, reference: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame =
    ngramNoveltyAgainst(scored, ngramSet(reference, textCol, n), idCol, textCol, n)

  /** The DISTINCT n-gram set of a corpus — build ONCE and reuse when
    * scoring many batches against the same reference (the streaming
    * path, q208: re-deriving the set per microbatch would re-shuffle
    * the whole reference every trigger).
    */
  def ngramSet(reference: DataFrame, textCol: String, n: Int): DataFrame =
    gramRows(reference, None, textCol, n).distinct()

  /** Score against a prepared [[ngramSet]]. */
  def ngramNoveltyAgainst(
      scored: DataFrame, refSet: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val counts = gramRows(scored, Some(idCol), textCol, n)
      .join(refSet.withColumn("__seen", lit(1)), Seq("gram"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("__seen").isNull, 1)).as("n_unseen"))
    scored.select(col(idCol))
      .join(counts, Seq(idCol), "left")
      .na.fill(0L, Seq("n_grams", "n_unseen"))
  }

  private def gramRows(
      df: DataFrame, idCol: Option[String], textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    val t = tokens(col(textCol))
    // guard: sequence(1, m) runs DESCENDING when m < 1, so short
    // docs must short-circuit to an empty gram list
    val g = when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => array_join(slice(t, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    idCol match {
      case Some(id) => df.select(col(id), explode(g).as("gram"))
      case None => df.select(explode(g).as("gram"))
    }
  }

  /** Adjacent-token bigram pairs of a text column, as an array of
    * (w1, w2) structs — empty for docs under two tokens (the slice
    * lengths clamp at 0, so no descending-sequence trap).
    */
  private def bigramPairs(text: Column): Column = {
    val t = tokens(text)
    val m = greatest(size(t) - 1, lit(0))
    zip_with(slice(t, lit(1), m), slice(t, lit(2), m),
      (a, b) => struct(a.as("w1"), b.as("w2")))
  }

  /** n-gram LM quality score — the model-based quality filter
    * (Kneser-Ney's integer-arithmetic cousin): a bigram count-table
    * "LM" is trained on a REFERENCE slice (the q206 frozen-model
    * discipline — never on the docs being scored), and each scored
    * doc gets the average add-one-smoothed conditional probability of
    * its adjacent token pairs, in ppm:
    *
    *   ppm(w1,w2) = (c2(w1,w2) + 1) · 10^6  DIV  (c1(w1) + |V|)
    *   score_ppm  = Σ ppm DIV n_pairs
    *
    * All-integer (BIGINT DIV — no logs, no FP), so it hash-certifies
    * cross-engine; the standard per-token log-perplexity is a
    * monotone transform of the same counts and would differ in the
    * last ulp per libm.
    *
    * The FLAG keys on `unseen_ppm` — the share of pairs the model has
    * never seen — not on the smoothed mean: on a near-uniform corpus
    * the true bigram probability (~1/|V|) sits next to the smoothing
    * floor 10^6/|V|, so the mean's two populations OVERLAP (measured
    * on the synthetic corpus: in-domain 29.7k–35.5k ppm vs garbage
    * 28.2k–32.3k), while OOV share separates totally (~0 vs ~10^6 —
    * wrong language, mojibake, and shuffled tokens are exactly
    * "bigrams the reference never produced"). Both are emitted;
    * `score_ppm` stays useful as a graded signal where the corpus has
    * real probability mass spread. Complements [[tokenRarity]]
    * (df-based) and [[repetitionRatio]] (structure-based): this is
    * the only one that scores SEQUENCE plausibility.
    *
    * Shape: model = two token-keyed count aggregates over the
    * reference slice (bounded by distinct grams, partial-combined);
    * scoring = per-doc pair counts aggregated FIRST on (doc, w1, w2)
    * — map-side combinable, shrinks the join input to distinct pairs
    * — then two keyed LEFT joins against the model (never broadcast:
    * a web-scale bigram table outgrows any executor) and one doc-keyed
    * sum. The 1-row vocabulary count is the only broadcast.
    */
  def lmQualityScore(
      ref: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      oovLowPpm: Long = 500000L): DataFrame = {
    val (rbg, runi) = lmModel(ref, textCol)
    lmScoreWith(rbg, runi, docs, idCol, textCol, oovLowPpm)
  }

  /** The frozen-model halves of [[lmQualityScore]]: `(bigram counts
    * (w1, w2, __c2), unigram counts (w1, __c1))` — persist both
    * (IndexStore staging) to score later batches against an UNCHANGED
    * model (the q199 stored-BPE discipline; q231 certifies the stored
    * round-trip against q228's oracle verbatim).
    */
  def lmModel(ref: DataFrame, textCol: String): (DataFrame, DataFrame) = {
    val rbg = ref.select(explode(bigramPairs(col(textCol))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("__c2"))
    val runi = ref.select(explode(tokens(col(textCol))).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("__c1"))
    (rbg, runi)
  }

  /** Score `docs` against a prepared (or loaded) [[lmModel]]. */
  def lmScoreWith(
      bigrams: DataFrame, unigrams: DataFrame, docs: DataFrame,
      idCol: String, textCol: String,
      oovLowPpm: Long = 500000L): DataFrame = {
    val vocab = unigrams.agg(count(lit(1)).as("__v"))
    val sbg = docs
      .select(col(idCol), explode(bigramPairs(col(textCol))).as("bg"))
      .groupBy(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("__n"))
    sbg.join(bigrams, Seq("w1", "w2"), "left")
      .join(unigrams, Seq("w1"), "left")
      // bound: one row; with auto-broadcast off the cross join plans as a Cartesian product
      .crossJoin(broadcast(vocab))
      .withColumn("__ppm", expr(
        "CAST((coalesce(__c2, 0L) + 1L) * 1000000L DIV (coalesce(__c1, 0L) + __v) AS BIGINT)"))
      .withColumn("__unseen", when(col("__c2").isNull, col("__n")).otherwise(0L))
      .groupBy(col(idCol))
      .agg(sum(col("__n")).cast("long").as("n_pairs"),
        sum(col("__ppm") * col("__n")).as("__sum"),
        sum(col("__unseen")).cast("long").as("__nu"))
      .withColumn("score_ppm", expr("CAST(__sum DIV n_pairs AS BIGINT)"))
      .withColumn("unseen_ppm",
        expr("CAST(__nu * 1000000L DIV n_pairs AS BIGINT)"))
      .withColumn("flag",
        when(col("unseen_ppm") >= oovLowPpm, lit("low")).otherwise(lit("ok")))
      .select(col(idCol), col("n_pairs"), col("score_ppm"),
        col("unseen_ppm"), col("flag"))
  }

  /** GOPHER-STYLE document quality rules (the Rae et al. 2021 filter
    * family every large-scale text pipeline runs a variant of; also
    * Dolma/RefinedWeb): per-document surface statistics plus a
    * first-failing-rule verdict. Rules, in precedence order:
    *
    *   - `word_count`: n_words outside [minWords, maxWords]
    *   - `word_len`:   integer mean word length ×100 outside
    *                   [minLenC100, maxLenC100] (bounds INCLUSIVE)
    *   - `symbol`:     `#`/`…` chars per word > maxSymbolPpm
    *   - `bullet`:     fraction of lines starting with a bullet
    *                   (`- `, `* `, `• `) > maxBulletPpm (STRICT)
    *   - `ellipsis`:   fraction of lines ending `...`/`…` >
    *                   maxEllipsisPpm (STRICT)
    *   - `alpha`:      fraction of words containing a letter <
    *                   minAlphaPpm
    *   - `stopword`:   fewer than minStopHits hits on `stopwords`
    *                   (default [[Stopwords]] — English; pass a
    *                   per-language list for non-English corpora)
    *   - `keep`
    *
    * All arithmetic is integer (ppm / ×100 integer-DIV) so the output
    * certifies exactly. Words split on explicit whitespace
    * `[ \t\r\n]+` (never `\s` — Java/RE2 class mismatch); lines on
    * `\n` with no empty-trailing handling (CONTRACT: no trailing
    * newline). Empty/whitespace-only/null text routes `word_count`
    * with zeroed stats — every input classified exactly once.
    *
    * Shape: pure per-row projection — no shuffle, no UDF. The
    * line/word rule counts run as interpreted HOF lambdas (filter
    * over split arrays): CPU-bound per-row, so callers on a
    * single-split corpus should repartition first (the q241 lesson).
    */
  def gopherQualityFlags(
      df: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50L, maxWords: Long = 100000L,
      minLenC100: Long = 300L, maxLenC100: Long = 1000L,
      maxSymbolPpm: Long = 100000L, maxBulletPpm: Long = 900000L,
      maxEllipsisPpm: Long = 300000L, minAlphaPpm: Long = 800000L,
      minStopHits: Long = 2L,
      stopwords: Seq[String] = Stopwords,
      cjkAware: Boolean = false): DataFrame = {
    // an empty stopword list is coherent exactly when the stopword
    // rule is disabled (minStopHits = 0 — how non-English callers
    // turn the English-policy rule off)
    require(minWords > 0 && minWords <= maxWords &&
      minLenC100 <= maxLenC100 && minStopHits >= 0 &&
      (stopwords.nonEmpty || minStopHits == 0),
      s"bad gopher thresholds: words=[$minWords,$maxWords] " +
        s"len=[$minLenC100,$maxLenC100] minStopHits=$minStopHits " +
        s"stopwords.size=${stopwords.size}")
    val txt = coalesce(col(textCol), lit(""))
    // cjkAware: words are counted over the CJK-isolated text (one word
    // per ideograph/kana — without this a whole zh document is ONE
    // whitespace word and the word_count rule rejects it), and the
    // alpha rule generalizes [A-Za-z] to \p{L}. CJK-calibrated
    // thresholds are the CALLER's job (per-char words ⇒ pass
    // minLenC100=100, and a per-language `stopwords` list — Gopher's
    // English function words reject every non-English doc).
    val wordSrc = if (cjkAware) cjkIsolate(txt) else txt
    val staged = df
      .withColumn("__words",
        filter(split(trim(wordSrc), "[ \t\r\n]+"), w => w =!= ""))
      .withColumn("__lines", split(txt, "\n"))
    val nW = size(col("__words")).cast("long")
    val nL = size(col("__lines")).cast("long")
    val wordChars = length(regexp_replace(txt, "[ \t\r\n]", "")).cast("long")
    val symbols = size(regexp_extract_all(txt, lit("[#…]"), lit(0))).cast("long")
    val bulletL = size(filter(col("__lines"),
      l => l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• ")))
      .cast("long")
    val ellipsisL = size(filter(col("__lines"),
      l => l.endsWith("...") || l.endsWith("…"))).cast("long")
    val alphaRe = if (cjkAware) "\\p{L}" else "[A-Za-z]"
    val alphaW = size(filter(col("__words"), w => w.rlike(alphaRe)))
      .cast("long")
    val stopHits =
      if (stopwords.isEmpty) lit(0L)
      else size(filter(tokens(txt), t => t.isin(stopwords: _*))).cast("long")
    val withStats = staged.select(col(idCol),
      nW.as("n_words"), nL.as("n_lines"),
      when(nW === 0, 0L).otherwise((wordChars * 100L) - pmod(wordChars * 100L, nW))
        .as("__mc"),
      when(nW === 0, 0L).otherwise((symbols * 1000000L) - pmod(symbols * 1000000L, nW))
        .as("__sy"),
      ((bulletL * 1000000L) - pmod(bulletL * 1000000L, nL)).as("__bu"),
      ((ellipsisL * 1000000L) - pmod(ellipsisL * 1000000L, nL)).as("__el"),
      when(nW === 0, 0L).otherwise((alphaW * 1000000L) - pmod(alphaW * 1000000L, nW))
        .as("__al"),
      stopHits.as("stop_hits"))
    val out = withStats
      .withColumn("mean_len_c100",
        when(col("n_words") === 0, 0L)
          .otherwise((col("__mc") / col("n_words")).cast("long")))
      .withColumn("symbol_ppm",
        when(col("n_words") === 0, 0L)
          .otherwise((col("__sy") / col("n_words")).cast("long")))
      .withColumn("bullet_ppm", (col("__bu") / col("n_lines")).cast("long"))
      .withColumn("ellipsis_ppm", (col("__el") / col("n_lines")).cast("long"))
      .withColumn("alpha_ppm",
        when(col("n_words") === 0, 0L)
          .otherwise((col("__al") / col("n_words")).cast("long")))
      .drop("__mc", "__sy", "__bu", "__el", "__al")
    out.withColumn("verdict",
      when(col("n_words") < minWords || col("n_words") > maxWords,
        lit("word_count"))
        .when(col("mean_len_c100") < minLenC100 ||
          col("mean_len_c100") > maxLenC100, lit("word_len"))
        .when(col("symbol_ppm") > maxSymbolPpm, lit("symbol"))
        .when(col("bullet_ppm") > maxBulletPpm, lit("bullet"))
        .when(col("ellipsis_ppm") > maxEllipsisPpm, lit("ellipsis"))
        .when(col("alpha_ppm") < minAlphaPpm, lit("alpha"))
        .when(col("stop_hits") < minStopHits, lit("stopword"))
        .otherwise(lit("keep")))
  }

  /** UNICODE SCRIPT profiling — the script-level complement to
    * [[withLangGuess]] (which only sees Latin function words): counts
    * LETTERS per script class (latin / cyrillic / cjk = Han+Hiragana+
    * Katakana / arabic / other — digits and punctuation are script
    * Common and count nowhere), the dominant script (argmax,
    * declaration-order ties, "none" on zero letters), the second-
    * largest script's share, and a `mixed` flag when that share
    * STRICTLY exceeds maxSecondPpm — the mixed-script signature of
    * spam/keyword-stuffed pages and wrong-script corpus leaks.
    *
    * Pure codegen'd projection: one regexp_count per class, integer
    * ppm arithmetic, no UDF, no shuffle. Counts are per CHARACTER
    * (all classes are single-codepoint), so the arithmetic certifies
    * exactly.
    */
  // each class INTERSECTED with \p{L}: script blocks also contain
  // non-letter combining marks (e.g. Cyrillic titlo U+0483) that
  // \p{L} excludes — without the intersection a class count could
  // exceed n_letters and `other` go negative (review finding)
  val ScriptClasses: Seq[(String, String)] = Seq(
    "latin" -> "[\\p{IsLatin}&&[\\p{L}]]",
    "cyrillic" -> "[\\p{IsCyrillic}&&[\\p{L}]]",
    "cjk" -> "[\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}&&[\\p{L}]]",
    "arabic" -> "[\\p{IsArabic}&&[\\p{L}]]")

  def scriptProfile(
      df: DataFrame, idCol: String, textCol: String,
      maxSecondPpm: Long = 200000L): DataFrame = {
    require(maxSecondPpm >= 0, s"bad maxSecondPpm: $maxSecondPpm")
    val txt = coalesce(col(textCol), lit(""))
    val counted = df.select(
      (col(idCol) +:
        ScriptClasses.map { case (n, re) =>
          size(regexp_extract_all(txt, lit(re), lit(0))).cast("long").as(n)
        }) :+
        size(regexp_extract_all(txt, lit("\\p{L}"), lit(0))).cast("long")
          .as("n_letters"): _*)
      .withColumn("other",
        col("n_letters") - ScriptClasses.map(c => col(c._1)).reduce(_ + _))
    val names = ScriptClasses.map(_._1) :+ "other"
    val best = greatest(names.map(col): _*)
    val dominant = names.foldRight(lit("none")) { case (n, acc) =>
      when(col(n) === best && best > 0, n).otherwise(acc)
    }
    val withDom = counted.withColumn("dominant", dominant)
    val secondCount = greatest(names.map(n =>
      when(col("dominant") === n, lit(-1L)).otherwise(col(n))): _*)
    withDom
      .withColumn("second_ppm",
        when(col("n_letters") === 0, 0L).otherwise({
          val sc = greatest(secondCount, lit(0L)) * 1000000L
          ((sc - pmod(sc, col("n_letters"))) / col("n_letters")).cast("long")
        }))
      .withColumn("mixed", col("second_ppm") > maxSecondPpm)
  }

  /** GOPHER-STYLE repetition rules (the second half of the Rae et al.
    * 2021 filter family; [[gopherQualityFlags]] is the first): how
    * much of a document is the same content repeated. Metrics, all
    * integer ppm:
    *
    *   - `dup_line_ppm`:      duplicate-line occurrences (beyond each
    *                          line's first) / nonempty lines
    *   - `dup_para_ppm`:      same at paragraph grain (paragraphs =
    *                          `\n\n+`-separated blocks)
    *   - `dup_line_char_ppm`: characters in duplicate line occurrences
    *                          / characters in all nonempty lines
    *                          (intra-line spaces INCLUDED)
    *   - `top_2gram_char_ppm`: max over word 2-grams of
    *                          count × (chars of the two words), /
    *                          non-whitespace chars — "how much of the
    *                          text is one repeated bigram"
    *   - `dup_5gram_ppm`:     5-gram occurrences whose gram appears
    *                          ≥2 times / all 5-gram occurrences
    *
    * Word n-grams are line-scoped (never cross `\n`) and split on
    * explicit `[ \t\r]+`. Verdict is the FIRST failing rule in paper
    * order — dup_line, dup_para, dup_line_char, top_2gram, dup_5gram —
    * all bounds STRICT `>`; empty/null text yields all-zero metrics
    * and `keep` (emptiness is [[gopherQualityFlags]]'s word_count
    * rule, not a repetition signal).
    *
    * Shape: the per-document stats are HOF projections; the n-gram
    * counts explode to (doc, gram) grain and aggregate back to doc —
    * the shuffle key is (doc, gram) so no group ever exceeds one
    * document's grams (never corpus-wide, never doc²). The staged
    * frame feeds three consumers (stats, 2-grams, 5-grams) and is
    * localCheckpoint'd once. CPU-bound HOF work: callers on a
    * single-split corpus should repartition first (the q241 lesson).
    */
  def repetitionFlags(
      df: DataFrame, idCol: String, textCol: String,
      maxDupLinePpm: Long = 300000L, maxDupParaPpm: Long = 300000L,
      maxDupLineCharPpm: Long = 200000L, maxTop2gramCharPpm: Long = 200000L,
      maxDup5gramPpm: Long = 150000L): DataFrame = {
    val txt = coalesce(col(textCol), lit(""))
    val emptyArr = array().cast("array<string>")
    def gramsOf(n: Int): Column = flatten(transform(col("__lw"), ws =>
      when(size(ws) >= n,
        transform(sequence(lit(0), size(ws) - n), i =>
          concat_ws(" ", (1 to n).map(j => element_at(ws, i + j)): _*)))
        .otherwise(emptyArr)))
    val staged = df
      .select(col(idCol), txt.as("__txt"))
      .withColumn("__lines", filter(split(col("__txt"), "\n"), l => l =!= ""))
      .withColumn("__paras",
        filter(split(col("__txt"), "\n\n+"), p => p =!= ""))
      .withColumn("__lw", transform(col("__lines"),
        l => filter(split(l, "[ \t\r]+"), w => w =!= "")))
      .withColumn("__g2", gramsOf(2))
      .withColumn("__g5", gramsOf(5))
      .localCheckpoint()
    val nLines = size(col("__lines")).cast("long")
    val nParas = size(col("__paras")).cast("long")
    val charsOf = (a: Column) =>
      aggregate(a, lit(0L), (acc, l) => acc + length(l))
    val base = staged.select(col(idCol),
      nLines.as("n_lines"), nParas.as("n_paras"),
      (nLines - size(array_distinct(col("__lines")))).as("__ndl"),
      (nParas - size(array_distinct(col("__paras")))).as("__ndp"),
      charsOf(col("__lines")).as("__lc"),
      charsOf(array_distinct(col("__lines"))).as("__dlc"),
      length(regexp_replace(col("__txt"), "[ \t\r\n]", "")).cast("long")
        .as("__wc"))
    val g2 = staged.select(col(idCol), explode(col("__g2")).as("__g"))
      .groupBy(col(idCol), col("__g")).count()
      .groupBy(col(idCol))
      .agg(max(col("count") * (length(col("__g")) - 1).cast("long"))
        .as("__cov2"))
    val g5 = staged.select(col(idCol), explode(col("__g5")).as("__g"))
      .groupBy(col(idCol), col("__g")).count()
      .groupBy(col(idCol))
      .agg(sum(when(col("count") >= 2L, col("count")).otherwise(0L))
        .as("__d5"),
        sum(col("count")).as("__t5"))
    def ppm(n: Column, d: Column): Column = {
      val scaled = n.cast("long") * 1000000L
      when(d === 0L, 0L)
        .otherwise(((scaled - pmod(scaled, d)) / d).cast("long"))
    }
    base
      .join(g2, Seq(idCol), "left").join(g5, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"), col("n_paras"),
        ppm(col("__ndl"), col("n_lines")).as("dup_line_ppm"),
        ppm(col("__ndp"), col("n_paras")).as("dup_para_ppm"),
        ppm(col("__lc") - col("__dlc"), col("__lc")).as("dup_line_char_ppm"),
        ppm(coalesce(col("__cov2"), lit(0L)), col("__wc"))
          .as("top_2gram_char_ppm"),
        ppm(coalesce(col("__d5"), lit(0L)), coalesce(col("__t5"), lit(0L)))
          .as("dup_5gram_ppm"))
      .withColumn("verdict",
        when(col("dup_line_ppm") > maxDupLinePpm, lit("dup_line"))
          .when(col("dup_para_ppm") > maxDupParaPpm, lit("dup_para"))
          .when(col("dup_line_char_ppm") > maxDupLineCharPpm,
            lit("dup_line_char"))
          .when(col("top_2gram_char_ppm") > maxTop2gramCharPpm,
            lit("top_2gram"))
          .when(col("dup_5gram_ppm") > maxDup5gramPpm, lit("dup_5gram"))
          .otherwise(lit("keep")))
  }

  /** Sentence segmentation, RE2-safe: maximal runs of non-terminal
    * chars plus their terminal punct (`[^.!?]+[.!?]?` — no lookbehind,
    * so DuckDB mirrors it verbatim), each whitespace-collapsed and
    * trimmed; empties drop. A trailing fragment without terminal
    * punctuation is kept as a sentence. Abbreviation periods split —
    * deterministic by contract (the C4-family rules count sentences,
    * they do not read them).
    */
  def sentences(text: Column): Column =
    filter(
      transform(
        regexp_extract_all(coalesce(text, lit("")),
          lit("[^.!?]+[.!?]?"), lit(0)),
        s => trim(regexp_replace(s, "[ \t\r\n]+", " "))),
      s => s =!= "")

  /** The [[sentencesU]] terminal set, shared with the generated
    * oracle mirror: ASCII `.!?` plus the CJK fullwidth 。(U+3002)
    * ！(U+FF01) ？(U+FF1F).
    */
  private[graft] val USentTerminals = ".!?。！？"

  /** Unicode sentence segmentation (round 14): [[sentences]] with the
    * CJK fullwidth terminals added — without them a zh/ja document is
    * ONE "sentence" and the sentence-span dedup family no-ops on it
    * (the tokens() lesson at sentence grain). Same RE2-safe shape, no
    * lookbehind; DuckDB mirrors the class verbatim.
    */
  def sentencesU(text: Column): Column =
    filter(
      transform(
        regexp_extract_all(coalesce(text, lit("")),
          lit(s"[^$USentTerminals]+[$USentTerminals]?"), lit(0)),
        s => trim(regexp_replace(s, "[ \t\r\n]+", " "))),
      s => s =!= "")

  /** CCNET-STYLE text normalization for dedup hashing (Wenzek et al.
    * 2020 §4.1 — case/digit/accent/punctuation variants of the same
    * content must hash identically or exact dedup misses them):
    * lowercase → fold the common Latin accented letters (a bounded
    * `translate`, not ICU — deterministic and engine-portable) →
    * every digit to `0` → strip everything that is not
    * `[a-z0 \t\r\n]` → collapse whitespace runs to one space → trim.
    *
    * LATIN-TARGETED by design (CCNet normalizes per language after
    * language ID): non-Latin letters are stripped, so route non-Latin
    * docs through [[scriptProfile]] first. Pure codegen'd projection;
    * null-safe ('' for null).
    */
  /** The bounded Latin accent fold of [[normalizeForDedup]] — exposed
    * so oracle SQL interpolates the SAME map (the LowerPreFold
    * pattern).
    */
  private[graft] val AccentFoldSrc = "áàâäãåçéèêëíìîïñóòôöõúùûüýÿ"
  private[graft] val AccentFoldDst = "aaaaaaceeeeiiiinooooouuuuyy"

  def normalizeForDedup(text: Column): Column = {
    val folded = translate(lower(coalesce(text, lit(""))),
      AccentFoldSrc, AccentFoldDst)
    val zeroed = regexp_replace(folded, "[0-9]", "0")
    val stripped = regexp_replace(zeroed, "[^a-z0 \t\r\n]", "")
    trim(regexp_replace(stripped, "[ \t\r\n]+", " "))
  }

  /** UNICODE-AWARE dedup normalization (round 14 — the multilingual
    * sibling of the Latin-targeted [[normalizeForDedup]]): [[lowerU]]
    * → every Unicode digit (`\p{Nd}`) to `0` → strip everything that
    * is not letter/mark/digit-0/whitespace (`[^\p{L}\p{M}0 \t\r\n]`
    * — drops ASCII AND CJK punctuation alike) → collapse whitespace
    * to one space → trim. No accent folding: unlike the Latin
    * variant, marks are CONTENT in Devanagari/Arabic/Hebrew, and
    * folding é→e across all scripts needs ICU (not engine-portable).
    * Same Unicode-13 contract as [[tokens]]. DuckDB mirror: the
    * [[lowerU]] mirror composed with the same three regexp_replace
    * steps ('g' flag). Pure codegen'd projection; null-safe ('').
    */
  def normalizeForDedupU(text: Column): Column = {
    val zeroed = regexp_replace(lowerU(text), "\\p{Nd}", "0")
    val stripped = regexp_replace(zeroed, "[^\\p{L}\\p{M}0 \t\r\n]", "")
    trim(regexp_replace(stripped, "[ \t\r\n]+", " "))
  }

  /** Sample blocklist for [[c4Rules]] specs/fixtures. A production
    * run passes the real list (C4 used the public "List of Dirty,
    * Naughty, Obscene..." list, ~2k entries) — still small enough for
    * a literal-array membership test; a 100k+-phrase list should use
    * a token↔blocklist broadcast join instead (same posture as the
    * [[Stopwords]] vs lm-model split: tiny tables inline, real tables
    * join).
    */
  val C4BadwordsSample: Seq[String] = Seq("badword1", "badword2")

  /** C4-STYLE cleaning rules (Raffel et al. 2020 §2.2 — the third
    * classic filter family next to [[gopherQualityFlags]] and
    * [[repetitionFlags]]): per-LINE retention plus a per-PAGE
    * first-failing verdict, emitting the cleaned text rebuilt from
    * the surviving lines.
    *
    * Line stage — a line (split on `\n`, then trimmed of `[ \t\r]`
    * at both ends, so CRLF input needs no pre-pass) is KEPT iff:
    *   - it ends in terminal punctuation (`.` `!` `?` `"`), and
    *   - it has ≥ `minLineWords` words (split on `[ \t]+`), and
    *     — NOTE the DEFAULT (3) is intentionally LOOSER than Raffel
    *     et al.'s 5-word line minimum; pass `minLineWords = 5` for
    *     the paper-faithful filter. Likewise `minLinesKept` counts
    *     RETAINED LINES where the paper discards pages with fewer
    *     than 3 SENTENCES — a deliberate line-grain simplification
    *     (this operator never segments sentences), not a claim of
    *     exact C4 parity. Both divergences keep MORE text than C4.
    *   - it does not contain "javascript" (case-insensitive).
    *
    * Page stage — verdict is the FIRST failing rule:
    *   - `badword`:   any lowercase-alnum token of the RAW text is in
    *                  `badwords` (policy severity ranks it first)
    *   - `lorem`:     raw text contains "lorem ipsum" (case-insens.)
    *   - `brace`:     raw text contains `{` (code-leak signal)
    *   - `few_lines`: fewer than `minLinesKept` lines survive the
    *                  line stage
    *   - `keep`
    *
    * Every input yields exactly one output row (the classify-every-
    * input posture): (idCol, n_lines_in, n_lines_kept, clean_text,
    * verdict), with `clean_text` the kept lines joined by `\n` ('' if
    * none survive; null/empty text → 1 raw line, 0 kept, few_lines).
    * Page rules test the RAW text (the paper drops the whole page on
    * badword/lorem/brace before line filtering matters), but
    * clean_text is still emitted for every row so downstream stages
    * can audit what WOULD have survived.
    *
    * Shape: pure per-row projection — no shuffle, no UDF, nothing
    * collected. The line filters run as interpreted HOF lambdas, so
    * callers on a single-split corpus should repartition first (the
    * q241 lesson). Integer counts only — certifies exactly.
    */
  def c4Rules(
      df: DataFrame, idCol: String, textCol: String,
      minLineWords: Long = 3L, minLinesKept: Long = 3L,
      badwords: Seq[String] = C4BadwordsSample): DataFrame = {
    require(minLineWords >= 1 && minLinesKept >= 0 && badwords.nonEmpty,
      s"bad c4 thresholds: lineWords=$minLineWords linesKept=$minLinesKept")
    val txt = coalesce(col(textCol), lit(""))
    val staged = df
      .withColumn("__lines", transform(split(txt, "\n"),
        l => regexp_replace(l, "^[ \t\r]+|[ \t\r]+$", "")))
      .withColumn("__kept", filter(col("__lines"), l =>
        l.rlike("[.!?\"]$") &&
          size(filter(split(l, "[ \t]+"), w => w =!= ""))
            .cast("long") >= minLineWords &&
          !lower(l).contains("javascript")))
    val hasBad = exists(tokens(txt), t => t.isin(badwords: _*))
    staged.select(col(idCol),
      size(col("__lines")).cast("long").as("n_lines_in"),
      size(col("__kept")).cast("long").as("n_lines_kept"),
      concat_ws("\n", col("__kept")).as("clean_text"),
      when(hasBad, lit("badword"))
        .when(lower(txt).contains("lorem ipsum"), lit("lorem"))
        .when(txt.contains("{"), lit("brace"))
        .when(size(col("__kept")).cast("long") < minLinesKept,
          lit("few_lines"))
        .otherwise(lit("keep")).as("verdict"))
  }
}
