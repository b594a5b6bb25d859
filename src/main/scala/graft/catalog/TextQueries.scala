package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, TextAnalysis}

import Shared._

/** Text pipelines over the ASCII corpus: statistics, n-grams, BPE,
  * quality rules (Gopher, C4), classifiers, decontamination, chat
  * templates, packing and the corpus capstones.
  */
object TextQueries {

  /** Nine-arm gopher-quality fixture (q258 + its streaming twin
    * q263): every metric closed-form in the residues — see the q258
    * entry comment for the arm-by-arm design.
    */
  private def gopherFixture(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val w = lit(50) + id % 100
    val b = lit(1) + id % 30
    val x = id % 10
    val plain = concat(repeat(lit("word "), lit(18)), lit("the and"))
    val text = when(id % 9 === 0,
        concat(repeat(lit("word "), w), lit("the and")))
      .when(id % 9 === 1,
        concat(repeat(lit("word "), b), lit("the and")))
      .when(id % 9 === 2,
        concat(repeat(lit("abcdefghijklmno "), w), lit("the and")))
      .when(id % 9 === 3, concat(repeat(lit("ab "), w), lit("the and")))
      .when(id % 9 === 4,
        concat(repeat(lit("wordy # "), w), lit("the and")))
      .when(id % 9 === 5,
        concat(repeat(lit("word "), lit(58)), lit("the and"),
          repeat(lit("\n- item one two"), b)))
      .when(id % 9 === 6,
        concat(concat_ws("\n", array_repeat(plain, lit(10))),
          when(x > 0, concat(lit("\n"),
            concat_ws("\n",
              array_repeat(lit("word word more..."), x.cast("int")))))
            .otherwise(lit(""))))
      .when(id % 9 === 7,
        concat(repeat(lit("1234 "), w), lit("the and")))
      .otherwise(repeat(lit("word "), w))
    docs.select(id).repartition(32).select(id, text.as("text"))
  }

  /** Eight-arm C4 fixture shared by q265 (batch) and q271 (streaming
    * twin) — see the q265 entry comment for the arm design.
    */
  private def c4Fixture(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val a = id % 8
    val g = (lit(3) + id % 5).cast("int")
    val b = (lit(1) + id % 4).cast("int")
    val gl = lit("alpha beta gamma delta.")
    val goods = concat_ws("\n", array_repeat(gl, g))
    def rep(l: Column, n: Column): Column =
      concat_ws("\n", array_repeat(l, n))
    val text = when(a === 0, goods)
      .when(a === 1, regexp_replace(
        concat(goods, lit("\n"),
          rep(lit("  no terminal punct here "), b)), "\n", "\r\n"))
      .when(a === 2, concat(goods, lit("\n"), rep(lit("too small."), b)))
      .when(a === 3, concat(goods, lit("\n"),
        rep(lit("please enable javascript support."), b)))
      .when(a === 4, concat(goods, lit("\nlorem ipsum dolor sit amet.")))
      .when(a === 5, concat(goods, lit("\nfunction() { return; }")))
      .when(a === 6, concat(goods, lit("\ndarn badword1 here { too.")))
      .otherwise(concat_ws("\n", array_repeat(gl, 2)))
    docs.select(id).repartition(32).select(id, text.as("text"))
  }

  /** q267/q278 shared classifier fixtures: parity-split training
    * corpus ("good"/"spam"-heavy with shared function words, token
    * counts 1+id%5) and the disjoint three-arm scoring set.
    */
  private def nbTrainFixture(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val p = (lit(1) + id % 5).cast("int")
    val trainText = when(id % 2 === 0,
      concat(repeat(lit("good "), p), lit("the end")))
      .otherwise(concat(repeat(lit("spam "), p), lit("the end")))
    docs.select(id).repartition(32).select(id, trainText.as("text"))
  }

  private def nbScoreFixture(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val scoreText = when(id % 3 === 0, lit("good good the"))
      .when(id % 3 === 1, lit("spam the end end"))
      .otherwise(lit("good spam zzz"))
    docs.select(id).repartition(32).select(id, scoreText.as("text"))
  }

  /** Seven-arm Unicode-script fixture shared by q259 (batch) and q279
    * (streaming twin) — see the q259 entry comment for arm design.
    */
  private def scriptFixture(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val k = lit(2) + id % 20
    val text = when(id % 7 === 0, repeat(lit("word "), k))
      .when(id % 7 === 1,
        concat(repeat(lit("мира "), k), lit("word")))
      .when(id % 7 === 2,
        concat(repeat(lit("漢字 "), k), repeat(lit("ひら "), k),
          repeat(lit("カタ "), k), lit("word")))
      .when(id % 7 === 3, repeat(lit("مرحب "), k))
      .when(id % 7 === 4, repeat(lit("αβγδ "), k))
      .when(id % 7 === 5,
        concat(repeat(lit("word "), k), repeat(lit("мира "), k)))
      .otherwise(repeat(lit("1234 #! "), k))
    docs.select(id).repartition(32).select(id, text.as("text"))
  }

  /** Ten-arm chat-messages fixture shared by q281 (batch) and q285
    * (streaming twin) — one arm per verdict class plus three keep
    * shapes; see the q281 entry comment.
    */
  private def chatFixture(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val a = id % 10
    val i = id.cast("string")
    def usr(k: Int): Column =
      concat(lit("{\"role\":\"user\",\"content\":\"u"), i,
        lit(s" asks $k\"}"))
    def asst(k: Int): Column =
      concat(lit("{\"role\":\"assistant\",\"content\":\"a"), i,
        lit(s" answers $k\"}"))
    val sys = lit("{\"role\":\"system\",\"content\":\"be terse\"}")
    def arr(parts: Column*): Column =
      concat(lit("["), concat_ws(",", parts: _*), lit("]"))
    val json = when(a === 0, arr(sys, usr(1), asst(1)))
      .when(a === 1, arr(usr(1), asst(1)))
      .when(a === 2, arr(usr(1), asst(1), usr(2), asst(2)))
      .when(a === 3, lit("{oops"))
      .when(a === 4, lit("[]"))
      .when(a === 5, arr(usr(1),
        lit("{\"role\":\"robot\",\"content\":\"x\"}")))
      .when(a === 6, arr(usr(1), sys))
      .when(a === 7, arr(usr(1), usr(2)))
      .when(a === 8, arr(usr(1),
        lit("{\"role\":\"assistant\",\"content\":\"\"}")))
      .otherwise(arr(sys, usr(1)))
    docs.select(id).repartition(32).select(id, json.as("messages"))
  }

  private def withDupSlice(docs: DataFrame): DataFrame =
    docs.unionByName(dupSliceArm(docs))

  /** The shared k-round BPE training chain (q197/q198): vocab0 is the
    * word-type table with '.'-wrapped symbol strings; each round
    * counts weighted adjacent pairs from the symbol lists, takes the
    * (count DESC, pair ASC) argmax, and applies it as a literal
    * replace — DuckDB's replace has the same all-occurrences
    * left-to-right non-overlapping semantics as Spark's, which is the
    * load-bearing fact that makes real BPE oracle-certifiable. The
    * builder generates the rounds so q197 (train surface) and q198
    * (encode surface) share one chain verbatim and cannot drift.
    */
  private def bpeChainSql(k: Int, trainWhere: String = "TRUE"): String = {
    val head =
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |  FROM documents),
        |vocab0 AS (
        |  SELECT w, count(*) AS freq,
        |    '.' || array_to_string(regexp_extract_all(w, '.'), '..') || '.' AS sym
        |  FROM tok WHERE $trainWhere GROUP BY w)""".stripMargin
    val rounds = (1 to k).map { i =>
      s"""p$i AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq,
         |      unnest(list_transform(range(1, len(l)), x -> l[x] || ' ' || l[x + 1])) AS pair
         |    FROM (SELECT freq, regexp_extract_all(sym, '[a-z0-9]+') AS l FROM vocab${i - 1}))
         |  GROUP BY pair),
         |best$i AS (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair LIMIT 1),
         |vocab$i AS (
         |  SELECT w, freq,
         |    coalesce(replace(sym, '.' || replace(pair, ' ', '..') || '.',
         |                     '.' || replace(pair, ' ', '') || '.'), sym) AS sym
         |  FROM vocab${i - 1} LEFT JOIN best$i ON TRUE)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + rounds
  }

  private val BpeK = 8

  /** Trigram novelty of the held-out 1/5 against the 1/5 reference
    * slice — shared verbatim by q202 (batch) and q208 (three-wave
    * streamed scoring): delivery must be invisible in the rows.
    */
  private val NgramNoveltySql: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(t) - 1),
      |      x -> array_to_string(t[x:x + 2], ' '))) AS gram
      |  FROM tok),
      |ref AS (SELECT DISTINCT gram FROM bg WHERE doc_id % 5 = 1),
      |agg AS (
      |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |    CAST(count(*) FILTER (WHERE r.gram IS NULL) AS BIGINT) AS n_unseen
      |  FROM bg b LEFT JOIN ref r USING (gram)
      |  WHERE b.doc_id % 5 = 0 GROUP BY b.doc_id)
      |SELECT d.doc_id, coalesce(a.n_grams, 0) AS n_grams,
      |  coalesce(a.n_unseen, 0) AS n_unseen
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
      |LEFT JOIN agg a USING (doc_id)""".stripMargin

  /** q228's bigram-LM mirror — shared with the stored-model round trip
    * q231 (the identical-oracle discipline): unnest+generate_subscripts
    * token stream, lead() bigrams, count tables from the %5<>0 slice,
    * add-one ppm per held-out pair occurrence; HUGEINT sums defused by
    * BIGINT casts.
    */
  private val LmQualitySql: String =
    """WITH sdocs AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN reverse(text) ELSE text END AS text
      |  FROM documents WHERE doc_id % 5 = 0),
      |rtok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w,
      |    generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS p
      |  FROM documents WHERE doc_id % 5 <> 0),
      |c1 AS (SELECT w AS w1, count(*) AS c1 FROM rtok GROUP BY 1),
      |vv AS (SELECT count(*) AS v FROM c1),
      |rbg AS (
      |  SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS w2
      |  FROM rtok QUALIFY w2 IS NOT NULL),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM rbg GROUP BY 1, 2),
      |stok AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w,
      |    generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS p
      |  FROM sdocs),
      |sbg AS (
      |  SELECT doc_id, w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS w2
      |  FROM stok QUALIFY w2 IS NOT NULL),
      |ppm AS (
      |  SELECT s.doc_id,
      |    (coalesce(c2.c2, 0) + 1) * 1000000 // (coalesce(c1.c1, 0) + vv.v) AS ppm,
      |    CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS unseen
      |  FROM sbg s LEFT JOIN c2 ON c2.w1 = s.w1 AND c2.w2 = s.w2
      |  LEFT JOIN c1 ON c1.w1 = s.w1 CROSS JOIN vv)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(ppm) // count(*) AS BIGINT) AS score_ppm,
      |  CAST(sum(unseen) * 1000000 // count(*) AS BIGINT) AS unseen_ppm,
      |  CASE WHEN CAST(sum(unseen) * 1000000 // count(*) AS BIGINT) >= 500000
      |       THEN 'low' ELSE 'ok' END AS flag
      |FROM ppm GROUP BY 1""".stripMargin

  /** q265/q271 shared C4 mirror: every count and the clean-text
    * rebuild is residue arithmetic + repeat() — no line splitting
    * oracle-side.
    */
  private val C4RulesSql: String =
    """WITH p AS (
      |  SELECT doc_id, doc_id % 8 AS a, 3 + doc_id % 5 AS g,
      |    1 + doc_id % 4 AS b
      |  FROM documents),
      |gd AS (
      |  SELECT doc_id, a, g, b,
      |    repeat('alpha beta gamma delta.' || chr(10), g - 1)
      |      || 'alpha beta gamma delta.' AS goods
      |  FROM p)
      |SELECT doc_id,
      |  CAST(CASE WHEN a IN (1,2,3) THEN g + b
      |            WHEN a IN (4,5,6) THEN g + 1
      |            WHEN a = 7 THEN 2 ELSE g END AS BIGINT) AS n_lines_in,
      |  CAST(CASE WHEN a IN (4,6) THEN g + 1
      |            WHEN a = 7 THEN 2 ELSE g END AS BIGINT) AS n_lines_kept,
      |  CASE WHEN a = 4 THEN goods || chr(10) || 'lorem ipsum dolor sit amet.'
      |       WHEN a = 6 THEN goods || chr(10) || 'darn badword1 here { too.'
      |       WHEN a = 7 THEN 'alpha beta gamma delta.' || chr(10)
      |         || 'alpha beta gamma delta.'
      |       ELSE goods END AS clean_text,
      |  CASE WHEN a = 6 THEN 'badword' WHEN a = 4 THEN 'lorem'
      |       WHEN a = 5 THEN 'brace' WHEN a = 7 THEN 'few_lines'
      |       ELSE 'keep' END AS verdict
      |FROM gd""".stripMargin

  /** q267/q278 shared classifier mirror: class token counts as
    * residue sums, every weight and score as integer //, labels
    * re-derived - the whole train->score chain as independent
    * arithmetic; the incremental q278 must match it verbatim.
    */
  private val NbClassifierSql: String =
    """WITH d AS (
        |  SELECT doc_id, 1 + doc_id % 5 AS p, doc_id % 2 AS par,
        |    doc_id % 3 AS s
        |  FROM documents),
        |tot AS (
        |  SELECT
        |    sum(CASE WHEN par = 0 THEN p ELSE 0 END) AS cg,
        |    sum(CASE WHEN par = 1 THEN p ELSE 0 END) AS cs,
        |    sum(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS ne,
        |    sum(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS no
        |  FROM d),
        |w AS (
        |  SELECT
        |    (cg+1)*1000000 // (cg + 2*ne + 4)
        |      - 1000000 // (cs + 2*no + 4) AS wg,
        |    1000000 // (cg + 2*ne + 4)
        |      - (cs+1)*1000000 // (cs + 2*no + 4) AS ws,
        |    (ne+1)*1000000 // (cg + 2*ne + 4)
        |      - (no+1)*1000000 // (cs + 2*no + 4) AS wt,
        |    1000000 // (cg + 2*ne + 4)
        |      - 1000000 // (cs + 2*no + 4) AS wo
        |  FROM tot),
        |sc AS (
        |  SELECT doc_id, s,
        |    CASE s WHEN 0 THEN 3 WHEN 1 THEN 4 ELSE 3 END AS n_toks,
        |    CASE s WHEN 2 THEN 1 ELSE 0 END AS oov_toks,
        |    CASE s WHEN 0 THEN 2*wg + wt WHEN 1 THEN ws + wt + 2*wt
        |      ELSE wg + ws + wo END AS score
        |  FROM d, w)
        |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
        |  CAST(oov_toks AS BIGINT) AS oov_toks,
        |  CAST(score AS BIGINT) AS score,
        |  CASE WHEN score > 0 THEN 'pos' ELSE 'neg' END AS label
        |FROM sc""".stripMargin

  /** q259/q279 shared script-profile mirror: per-class letter counts
    * closed-form in the residues (no regex anywhere oracle-side —
    * fully independent of the operator's \p{IsX} classes).
    */
  private val ScriptProfileSql: String =
    """WITH p AS (
        |  SELECT doc_id, doc_id % 7 AS a, 2 + doc_id % 20 AS k
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, a, k,
        |    CASE a WHEN 0 THEN 4*k WHEN 1 THEN 4 WHEN 2 THEN 4
        |      WHEN 5 THEN 4*k ELSE 0 END AS latin,
        |    CASE a WHEN 1 THEN 4*k WHEN 5 THEN 4*k ELSE 0 END AS cyrillic,
        |    CASE a WHEN 2 THEN 6*k ELSE 0 END AS cjk,
        |    CASE a WHEN 3 THEN 4*k ELSE 0 END AS arabic,
        |    CASE a WHEN 4 THEN 4*k ELSE 0 END AS other
        |  FROM p),
        |d AS (
        |  SELECT *, latin+cyrillic+cjk+arabic+other AS n_letters,
        |    CASE a WHEN 0 THEN 'latin' WHEN 1 THEN 'cyrillic'
        |      WHEN 2 THEN 'cjk' WHEN 3 THEN 'arabic' WHEN 4 THEN 'other'
        |      WHEN 5 THEN 'latin' ELSE 'none' END AS dominant,
        |    CASE a WHEN 1 THEN 4 WHEN 2 THEN 4 WHEN 5 THEN 4*k
        |      ELSE 0 END AS second_cnt
        |  FROM m)
        |SELECT doc_id, CAST(latin AS BIGINT) AS latin,
        |  CAST(cyrillic AS BIGINT) AS cyrillic, CAST(cjk AS BIGINT) AS cjk,
        |  CAST(arabic AS BIGINT) AS arabic,
        |  CAST(n_letters AS BIGINT) AS n_letters,
        |  CAST(other AS BIGINT) AS other, dominant,
        |  CAST(CASE WHEN n_letters = 0 THEN 0
        |    ELSE second_cnt * 1000000 // n_letters END AS BIGINT)
        |    AS second_ppm,
        |  CASE WHEN n_letters = 0 THEN FALSE
        |    ELSE second_cnt * 1000000 // n_letters > 200000 END AS mixed
        |FROM d""".stripMargin

  /** q281/q285 shared chat-template mirror: every rendered template
    * rebuilt from residues — no JSON parsing oracle-side.
    */
  private val ChatTemplateSql: String =
    """WITH p AS (
        |  SELECT doc_id, doc_id % 10 AS a, CAST(doc_id AS VARCHAR) AS i
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, a,
        |    '<|system|>be terse' AS sys,
        |    '<|user|>u' || i || ' asks 1' AS u1,
        |    '<|user|>u' || i || ' asks 2' AS u2,
        |    '<|assistant|>a' || i || ' answers 1' AS a1,
        |    '<|assistant|>a' || i || ' answers 2' AS a2
        |  FROM p),
        |o AS (
        |  SELECT doc_id,
        |    CASE a WHEN 0 THEN 3 WHEN 2 THEN 4 WHEN 3 THEN 0
        |      WHEN 4 THEN 0 ELSE 2 END AS n_turns,
        |    CASE a WHEN 0 THEN 'keep' WHEN 1 THEN 'keep'
        |      WHEN 2 THEN 'keep' WHEN 3 THEN 'bad_json'
        |      WHEN 4 THEN 'empty' WHEN 5 THEN 'bad_role'
        |      WHEN 6 THEN 'system_pos' WHEN 7 THEN 'non_alternating'
        |      WHEN 8 THEN 'empty_turn' ELSE 'dangling' END AS verdict,
        |    CASE a WHEN 0 THEN sys || chr(10) || u1 || chr(10) || a1
        |      WHEN 1 THEN u1 || chr(10) || a1
        |      WHEN 2 THEN u1 || chr(10) || a1 || chr(10) || u2
        |        || chr(10) || a2
        |      WHEN 3 THEN '' WHEN 4 THEN ''
        |      WHEN 5 THEN u1 || chr(10) || '<|robot|>x'
        |      WHEN 6 THEN u1 || chr(10) || sys
        |      WHEN 7 THEN u1 || chr(10) || u2
        |      WHEN 8 THEN u1 || chr(10) || '<|assistant|>'
        |      ELSE sys || chr(10) || u1 END AS rendered
        |  FROM r)
        |SELECT doc_id, CAST(n_turns AS BIGINT) AS n_turns, verdict,
        |  rendered, CAST(length(rendered) AS BIGINT) AS n_chars
        |FROM o""".stripMargin

  /** Gopher-quality mirror, shared VERBATIM by q258 (batch) and q263
    * (streaming twin) — the identical-oracle discipline: the two
    * entries cannot drift apart. Every metric regenerated from the
    * nine arms' residue arithmetic.
    */
  private val GopherQualitySql: String =
    """WITH p AS (
      |  SELECT doc_id, doc_id % 9 AS a, 50 + doc_id % 100 AS w,
      |    1 + doc_id % 30 AS b, doc_id % 10 AS x
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |    CASE a WHEN 0 THEN w+2 WHEN 1 THEN b+2 WHEN 2 THEN w+2
      |      WHEN 3 THEN w+2 WHEN 4 THEN 2*w+2 WHEN 5 THEN 60+4*b
      |      WHEN 6 THEN 200+3*x WHEN 7 THEN w+2 ELSE w END AS n_words,
      |    CASE a WHEN 5 THEN b+1 WHEN 6 THEN 10+x ELSE 1 END AS n_lines,
      |    CASE a WHEN 0 THEN 4*w+6 WHEN 1 THEN 4*b+6 WHEN 2 THEN 15*w+6
      |      WHEN 3 THEN 2*w+6 WHEN 4 THEN 6*w+6 WHEN 5 THEN 238+11*b
      |      WHEN 6 THEN 780+15*x WHEN 7 THEN 4*w+6 ELSE 4*w END AS wc,
      |    CASE a WHEN 4 THEN w ELSE 0 END AS sy,
      |    CASE a WHEN 5 THEN b ELSE 0 END AS bu,
      |    CASE a WHEN 6 THEN x ELSE 0 END AS el,
      |    CASE a WHEN 0 THEN w+2 WHEN 1 THEN b+2 WHEN 2 THEN w+2
      |      WHEN 3 THEN w+2 WHEN 4 THEN w+2 WHEN 5 THEN 60+3*b
      |      WHEN 6 THEN 200+3*x WHEN 7 THEN 2 ELSE w END AS aw,
      |    CASE a WHEN 8 THEN 0 WHEN 6 THEN 20 ELSE 2 END AS sh
      |  FROM p),
      |d AS (
      |  SELECT doc_id, n_words, n_lines, sh,
      |    wc * 100 // n_words AS mean_c,
      |    sy * 1000000 // n_words AS s_ppm,
      |    bu * 1000000 // n_lines AS b_ppm,
      |    el * 1000000 // n_lines AS e_ppm,
      |    aw * 1000000 // n_words AS a_ppm
      |  FROM m)
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      |  CAST(n_lines AS BIGINT) AS n_lines,
      |  CAST(sh AS BIGINT) AS stop_hits,
      |  CAST(mean_c AS BIGINT) AS mean_len_c100,
      |  CAST(s_ppm AS BIGINT) AS symbol_ppm,
      |  CAST(b_ppm AS BIGINT) AS bullet_ppm,
      |  CAST(e_ppm AS BIGINT) AS ellipsis_ppm,
      |  CAST(a_ppm AS BIGINT) AS alpha_ppm,
      |  CASE WHEN n_words < 50 OR n_words > 100000 THEN 'word_count'
      |       WHEN mean_c < 300 OR mean_c > 1000 THEN 'word_len'
      |       WHEN s_ppm > 100000 THEN 'symbol'
      |       WHEN b_ppm > 900000 THEN 'bullet'
      |       WHEN e_ppm > 300000 THEN 'ellipsis'
      |       WHEN a_ppm < 800000 THEN 'alpha'
      |       WHEN sh < 2 THEN 'stopword'
      |       ELSE 'keep' END AS verdict
      |FROM d""".stripMargin

  private val BpeTrainSql: String =
    bpeChainSql(BpeK) + "\n" +
      (1 to BpeK).map(i =>
        s"SELECT CAST($i AS BIGINT) AS rank, pair, cnt FROM best$i")
        .mkString("", "\nUNION ALL\n", "")

  private val BpeEncodeSql: String =
    bpeChainSql(BpeK) +
      s""",
         |enc AS (
         |  SELECT w, CAST(len(regexp_extract_all(sym, '[a-z0-9]+')) AS BIGINT) AS n_sym
         |  FROM vocab$BpeK)
         |SELECT t.doc_id, CAST(sum(e.n_sym) AS BIGINT) AS n_bpe,
         |  CAST(count(*) AS BIGINT) AS n_words
         |FROM tok t JOIN enc e USING (w) GROUP BY t.doc_id""".stripMargin

  /** q206: the chain TRAINS on the 4/5 reference slice, then the
    * merges are applied to the FULL word dictionary (aw-stages — the
    * encoder must handle words the trainer never saw) and rolled up
    * as per-source fertility over the held-out 1/5.
    */
  private val BpeFertilitySql: String = {
    // LEFT JOIN ON TRUE (not a cross join): a merge round that finds
    // no pair must leave the vocab intact — Spark's learnMerges stops
    // early and keeps encoding, so the oracle must too (latent on the
    // current corpus, whose vocab cannot exhaust in 8 rounds)
    val awStages = (1 to BpeK).map { i =>
      s"""aw$i AS (
         |  SELECT w, coalesce(replace(sym, '.' || replace(pair, ' ', '..') || '.',
         |                             '.' || replace(pair, ' ', '') || '.'), sym) AS sym
         |  FROM aw${i - 1} LEFT JOIN best$i ON TRUE)""".stripMargin
    }.mkString(",\n")
    bpeChainSql(BpeK, trainWhere = "doc_id % 5 <> 0") +
      s""",
         |aw0 AS (
         |  SELECT DISTINCT w,
         |    '.' || array_to_string(regexp_extract_all(w, '.'), '..') || '.' AS sym
         |  FROM tok WHERE doc_id % 5 = 0),
         |$awStages,
         |enc AS (
         |  SELECT w, CAST(len(regexp_extract_all(sym, '[a-z0-9]+')) AS BIGINT) AS n_sym
         |  FROM aw$BpeK),
         |perdoc AS (
         |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(e.n_sym) AS BIGINT) AS n_bpe
         |  FROM tok t JOIN enc e USING (w) WHERE t.doc_id % 5 = 0 GROUP BY t.doc_id)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(p.n_words) AS BIGINT) AS n_words,
         |  CAST(sum(p.n_bpe) AS BIGINT) AS n_bpe,
         |  CAST(sum(p.n_bpe) * 1000000 // sum(p.n_words) AS BIGINT) AS fert_ppm
         |FROM perdoc p JOIN documents d USING (doc_id)
         |GROUP BY d.source""".stripMargin
  }

  /** q222/q333 shared oracle — the exact n-gram decontamination
    * mirror; ONE definition so the Bloom-prefiltered variant cannot
    * drift from the exact surface it must equal.
    */
  private val NgramDecontamSql: String =
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
        |    generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1)
        |      AS pos
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
        |      || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w
        |      || ' ' || lead(tok, 5) OVER w || ' ' || lead(tok, 6) OVER w
        |      || ' ' || lead(tok, 7) OVER w AS g
        |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok, 7) OVER w IS NOT NULL),
        |ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % 5 = 0)
        |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
        |FROM sh s JOIN ev USING (g)
        |WHERE s.doc_id % 5 <> 0
        |GROUP BY 1""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // ── ext: per-document text quality stats (tokens, type-token ratio,
    // stopword ratio, BPE-ish count, md5 fingerprint) — narrow per-row
    // pass, no shuffle ──
    QuerySpec("q20_textstats", (s, dir) =>
      TextAnalysis.textStats(t(s, dir, "documents"), "doc_id", "text", keep = Seq("lang")),
      """WITH t AS (
        |  SELECT doc_id, lang, text,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents)
        |SELECT doc_id, lang, length(text) AS n_chars_m,
        |  len(toks) AS n_tokens,
        |  len(list_distinct(toks)) AS n_types,
        |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        |  CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks) AS avg_token_len,
        |  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in','to','is'))) AS DOUBLE) / len(toks) AS stop_ratio,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
        |  md5(array_to_string(toks, ' ')) AS fingerprint
        |FROM t WHERE len(toks) > 0""".stripMargin),

    // ── cross-corpus n-gram novelty (ext/TextAnalysis.ngramNovelty):
    // the CCNet-shaped LM-free quality/drift signal — per scored doc,
    // how many TRIGRAM occurrences were never seen in the 1/5
    // reference slice. n=3 is calibrated to the corpus: on the
    // ~31-token synthetic vocabulary bigrams saturate (mean unseen
    // 0.5% — the q147 vacuity trap, measured before wiring) while
    // trigrams spread 0..0.97. Reference collapses to its distinct
    // gram set (one aggregate), scored docs explode once and
    // hash-join it; all-integer outputs, exact under the hash. ──
    QuerySpec("q202_ngram_novelty", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.ngramNovelty(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 === 1), "doc_id", "text", n = 3)
    },
      NgramNoveltySql),

    // ── STREAMING novelty scoring (q202's operator under three-wave
    // streamed delivery): each microbatch is scored against a
    // PRECOMPUTED reference gram set (stream-static shape —
    // TextAnalysis.ngramSet built once, never re-derived per
    // trigger), batch results spooled via foreachBatch. Per-doc
    // novelty carries no cross-batch state, so q202's IDENTICAL
    // oracle certifies that wave splitting is invisible in the rows —
    // the q185/q186/q187 identical-oracle discipline on the text
    // side. ──
    QuerySpec("q208_novelty_stream", (s, dir) =>
      graft.streaming.StreamingReports.noveltyStreamReplay(s, dir),
      // identical-oracle certification: per-doc novelty has no
      // cross-batch state, so the three-wave streamed scoring must be
      // byte-identical to the batch rows — the waves invisible.
      NgramNoveltySql),

    // ── DATASET CARD: the one-table audit manifest a training-data
    // owner publishes — corpus size, source/language mix, byte/token
    // mass, exact-dup burden, size extremes — as (metric, value)
    // rows from ONE scan + one flat aggregate (the multi-
    // count_distinct Expand is the documented q67 trade), unpivoted
    // via inline(array(struct…)) (stack() rejects heterogeneous
    // field names — the round-7 lesson). All-integer ⇒ row-certifies.
    QuerySpec("q225_dataset_card", (s, dir) => {
      // card over a corpus WITH re-ingested mass (the q103/q189
      // fixture pattern): documents plus a %13 slice under new ids —
      // the synthetic base corpus has zero byte-identical texts, so
      // the dup metric would be vacuously 0 on it
      val docs = withDupSlice(t(s, dir, "documents"))
      val agg = docs.agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("source")).as("n_sources"),
        count_distinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_bytes"),
        sum(size(TextAnalysis.tokens(col("text"))).cast("long"))
          .as("total_tokens"),
        (count(lit(1)) - count_distinct(md5(col("text"))))
          .as("n_exact_dup_docs"),
        max(col("n_chars")).as("max_doc_bytes"),
        sum(when(col("n_chars") < 100, 1L).otherwise(0L)).as("n_short_docs"))
      val metrics = Seq("n_docs", "n_sources", "n_langs", "total_bytes",
        "total_tokens", "n_exact_dup_docs", "max_doc_bytes", "n_short_docs")
      agg.select(inline(array(
        metrics.map(m => struct(lit(m).as("metric"), col(m).as("value"))): _*)))
    },
      """WITH v2 AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 13 = 0),
        |t AS (
        |  SELECT text, lang, source, n_chars,
        |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_toks
        |  FROM v2),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_bytes,
        |    CAST(sum(n_toks) AS BIGINT) AS total_tokens,
        |    CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
        |      AS n_exact_dup_docs,
        |    CAST(max(n_chars) AS BIGINT) AS max_doc_bytes,
        |    CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_short_docs
        |  FROM t)
        |SELECT 'n_docs' AS metric, n_docs AS value FROM a
        |UNION ALL SELECT 'n_sources', n_sources FROM a
        |UNION ALL SELECT 'n_langs', n_langs FROM a
        |UNION ALL SELECT 'total_bytes', total_bytes FROM a
        |UNION ALL SELECT 'total_tokens', total_tokens FROM a
        |UNION ALL SELECT 'n_exact_dup_docs', n_exact_dup_docs FROM a
        |UNION ALL SELECT 'max_doc_bytes', max_doc_bytes FROM a
        |UNION ALL SELECT 'n_short_docs', n_short_docs FROM a""".stripMargin),

    // ── EXACT n-gram decontamination (the verbatim-leak rule,
    // complementing q87's minhash near-dup rule): a training doc is
    // flagged iff it shares ANY word 8-gram with the eval slice —
    // distinct (doc, gram) explosion both sides, eval grams broadcast
    // (benchmark corpora are tiny next to training), one keyed join +
    // per-doc count. 14 of 400 train docs flagged at sf0.01. ──
    QuerySpec("q222_ngram_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.ngramContaminated(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", n = 8)
    },
      // q18's shingle machinery at n=8; raw gram strings join directly
      NgramDecontamSql),

    // ── BLOOM-PREFILTERED exact decontamination (the scaladoc's
    // "bloom-prunes via BloomJoin" promise made real — the 100-TB
    // form when the eval-suite gram set is too large to broadcast):
    // a compact Bloom filter over the eval grams prunes the training
    // gram stream BEFORE the join shuffle; the exact semi join then
    // removes the false positives, false negatives are impossible —
    // so the result equals q222 and is certified against q222's
    // oracle VERBATIM (NgramDecontamSql, the q186 discipline). The
    // filter is sized TIGHT (64k bits for ~40k distinct grams, ~13%
    // FP at sf0.01) so the exact-confirm leg is provably load-bearing
    // rather than a pass-through. ──
    QuerySpec("q333_bloom_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.ngramContaminatedBloom(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", n = 8,
        expectedItems = 65536L, numBits = 65536L)
    },
      // IDENTICAL SQL to q222: the Bloom prefilter admits false
      // positives only, the exact semi join removes them (the q186
      // identical-oracle discipline)
      NgramDecontamSql),

    // ── n-gram LM quality score (the model-based quality filter the
    // text family lacked): bigram count-table LM trained on the 4/5
    // REFERENCE slice only (q206's frozen-model discipline), held-out
    // 1/5 scored as avg add-one-smoothed P(w2|w1) in ppm — all-integer
    // DIV, no logs. Planted low-quality arm: every %3 held-out doc has
    // its text REVERSED (out-of-vocab garbage). The flag keys on the
    // OOV-pair share (unseen_ppm): measured first (q46 discipline),
    // the smoothed MEAN overlapped between arms on this near-uniform
    // corpus (29.7k-35.5k vs 28.2k-32.3k), while OOV share separates
    // totally (in-domain ~0 vs reversed ~10^6) — threshold 500000. ──
    QuerySpec("q228_lm_quality", (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.lmQualityScore(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"),
            when(col("doc_id") % 3 === 0, reverse(col("text")))
              .otherwise(col("text")).as("text")),
        "doc_id", "text")
    },
      // bigram LM mirror: unnest+generate_subscripts token stream, lead()
      // bigrams, count tables from the %5<>0 slice, add-one ppm per
      // held-out pair occurrence; HUGEINT sums defused by BIGINT casts
      LmQualitySql),

    // ── stored LM model (q228's count tables through the IndexStore
    // lifecycle — the q199 stored-BPE discipline): train once, persist
    // c2/ + c1/ + params/ via atomic staging keyed by the corpus
    // fingerprint, score the held-out slice READING the stored model.
    // Certified against q228's oracle VERBATIM: the storage round trip
    // must be invisible in the scored rows. ──
    QuerySpec("q231_lm_stored", (s, dir) => {
      val docs = t(s, dir, "documents")
      val fp = graft.operators.IndexStore.fingerprint(s"$dir/documents.parquet")
      val path = graft.operators.IndexStore.ensure(
        s"${System.getProperty("java.io.tmpdir")}/graft_lm_${fp}_bg") { staging =>
        val (c2, c1) = TextAnalysis.lmModel(
          docs.filter(col("doc_id") % 5 =!= 0), "text")
        c2.write.mode("overwrite").parquet(s"$staging/c2")
        c1.write.mode("overwrite").parquet(s"$staging/c1")
        s.range(1).select(lit("bigram-lm-v1").as("model"))
          .coalesce(1).write.mode("overwrite").parquet(s"$staging/params")
      }
      TextAnalysis.lmScoreWith(
        s.read.parquet(s"$path/c2"), s.read.parquet(s"$path/c1"),
        docs.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"),
            when(col("doc_id") % 3 === 0, reverse(col("text")))
              .otherwise(col("text")).as("text")),
        "doc_id", "text")
    },
      // identical-oracle certification: the stored-model round trip must
      // be invisible in the scored rows (the q199/q187 discipline)
      LmQualitySql),

    // ── GOPHER quality rules (TextAnalysis.gopherQualityFlags — the
    // Rae et al. 2021 filter family): nine residue arms, one per rule
    // verdict, every metric CLOSED-FORM so the whole word/line/ppm
    // pipeline certifies against independent arithmetic. Boundary
    // values live on both sides: the symbol arm's mean word length is
    // EXACTLY minLenC100=300 (certifying the inclusive bound), the
    // bullet arm crosses maxBulletPpm at exactly 900000 (B=9 passes,
    // B=10 fails — strict >), the ellipsis arm at X=4/X=5 around
    // 300000. Pure projection; repartitioned first because the HOF
    // line/word filters run interpreted (the q241 lesson). ──
    QuerySpec("q258_gopher_quality", (s, dir) =>
      graft.ext.TextAnalysis.gopherQualityFlags(
        gopherFixture(t(s, dir, "documents")), "doc_id", "text"),
      // gopher-quality mirror (shared GopherQualitySql — see the val's
      // scaladoc): every metric regenerated from the nine arms' residue
      // arithmetic, fully independent of the operator's split/filter
      // chain; the verdict CASE re-applies the precedence
      GopherQualitySql),

    // ── streaming gopher-quality twin (q248 discipline generalized):
    // the same nine-arm fixture replayed over two JSONL waves through
    // readStream → gopherQualityFlags → memory sink; the flags are a
    // pure projection, so the accumulated table must equal q258's
    // batch output — certified against q258's oracle VERBATIM
    // (shared GopherQualitySql val). ──
    QuerySpec("q263_gopher_stream", (s, dir) =>
      graft.streaming.StreamingReports.projectionStreamReplay(
        s, gopherFixture(t(s, dir, "documents")), "doc_id", "text",
        df => graft.ext.TextAnalysis.gopherQualityFlags(
          df, "doc_id", "text")),
      // streaming twin: IDENTICAL oracle — the accumulated memory-sink
      // table must equal the batch output verbatim
      GopherQualitySql),

    // ── UNICODE script profile (TextAnalysis.scriptProfile): seven
    // residue arms — pure latin; cyrillic-dominant with a 4-letter
    // latin minority whose share 1e6/(k+1) crosses the STRICT
    // 200000 mixed bound exactly at k=4 (k=2,3 mixed; k=4 exactly
    // 200000 → keep; k>4 keep); han+hiragana+katakana all counting
    // cjk with a latin minority; arabic; greek routing to `other`;
    // an exact latin==cyrillic tie certifying declaration-order
    // argmax (latin wins, second=500000 → mixed); digits/punct only
    // → dominant 'none'. Every letter count is closed-form in the
    // residues, so the oracle is independent arithmetic — it shares
    // no regex with the operator (Java \p{IsX} classes never appear
    // oracle-side). ──
    QuerySpec("q259_script_profile", (s, dir) =>
      graft.ext.TextAnalysis.scriptProfile(
        scriptFixture(t(s, dir, "documents")), "doc_id", "text"),
      // script-profile mirror (shared ScriptProfileSql — the streaming
      // twin q279 certifies against it verbatim)
      ScriptProfileSql),

    // ── streaming script-profile twin (the q263/q271 discipline):
    // scriptProfile is a pure per-row projection, so the seven-arm
    // fixture replayed over two JSONL waves must equal the batch
    // output — certified against q259's oracle VERBATIM (shared
    // ScriptProfileSql val + shared scriptFixture helper). ──
    QuerySpec("q279_script_stream", (s, dir) =>
      graft.streaming.StreamingReports.projectionStreamReplay(
        s, scriptFixture(t(s, dir, "documents")), "doc_id", "text",
        df => graft.ext.TextAnalysis.scriptProfile(df, "doc_id", "text")),
      ScriptProfileSql),

    // ── GOPHER repetition rules (TextAnalysis.repetitionFlags): five
    // residue arms over uniform 10-word/4-char-word lines (49 chars
    // with separators, 40 without — every metric closed-form). Arms:
    // clean distinct lines; R appended copies of one line (serves
    // dup_line, dup_line_char, dup_5gram AND the exact strict
    // boundary — R=4,NL=11 puts dup_line_char at 200000 exactly);
    // 3-line distinct paragraphs + R+1 copies of a 1-line paragraph
    // (para dup fraction exceeds line dup fraction, so dup_para
    // fires first); a 3×-per-line repeated bigram with per-line
    // distinct padding (top_2gram, no dup lines/5-grams); an 8-word
    // shared phrase with distinct end words (4 shared 5-grams/line →
    // dup_5gram while top2 stays ≤200000 by construction). ──
    QuerySpec("q260_repetition_rules", (s, dir) => {
      val id = col("doc_id")
      val nl = lit(5) + id % 10
      val r = (lit(2) + id % 6).cast("int")
      def wrd(i: Column): Column = format_string("w%03d", i)
      def lineOf(j: Column): Column =
        concat_ws(" ", transform(sequence(lit(0), lit(9)),
          k => wrd(j * 10 + k)))
      val fillers = concat_ws("\n",
        transform(sequence(lit(0), nl - 1), j => lineOf(j)))
      val line90 = lit(
        "w900 w901 w902 w903 w904 w905 w906 w907 w908 w909")
      val text = when(id % 5 === 0, fillers)
        .when(id % 5 === 1,
          concat(fillers, lit("\n"),
            concat_ws("\n", array_repeat(line90, r))))
        .when(id % 5 === 2,
          concat_ws("\n\n", concat(
            transform(sequence(lit(0), nl - 1), i =>
              concat_ws("\n", lineOf(i * 3), lineOf(i * 3 + 1),
                lineOf(i * 3 + 2))),
            array_repeat(line90, r + 1))))
        .when(id % 5 === 3,
          concat(fillers, lit("\n"),
            concat_ws("\n", transform(sequence(lit(0), r - 1), j =>
              concat_ws(" ", lit("w900"), lit("w901"),
                wrd(j * 4 + 200), wrd(j * 4 + 201),
                lit("w900"), lit("w901"),
                wrd(j * 4 + 202), wrd(j * 4 + 203),
                lit("w900"), lit("w901"))))))
        .otherwise(
          concat(fillers, lit("\n"),
            concat_ws("\n", transform(sequence(lit(0), r - 1), j =>
              concat_ws(" ", wrd(j * 2 + 300),
                lit("w900 w901 w902 w903 w904 w905 w906 w907"),
                wrd(j * 2 + 301))))))
      graft.ext.TextAnalysis.repetitionFlags(
        t(s, dir, "documents").select(id).repartition(32)
          .select(id, text.as("text")),
        "doc_id", "text")
    },
      // repetition-rules mirror: uniform-line geometry makes every
      // count closed-form — lines are 10 words x 4 chars (49 chars with
      // separators, 40 without), 9 2-grams and 6 5-grams per line. The
      // duplicate/coverage counts per arm are pure residue arithmetic;
      // the ppm divisions and the verdict CASE mirror the operator.
      """WITH p AS (
        |  SELECT doc_id, doc_id % 5 AS a, 5 + doc_id % 10 AS nl,
        |    2 + doc_id % 6 AS r
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, a, nl, r,
        |    CASE a WHEN 0 THEN nl WHEN 2 THEN 3*nl + r + 1
        |      ELSE nl + r END AS n_lines,
        |    CASE a WHEN 2 THEN nl + r + 1 ELSE 1 END AS n_paras,
        |    CASE a WHEN 1 THEN r - 1 WHEN 2 THEN r ELSE 0 END AS ndl,
        |    CASE a WHEN 2 THEN r ELSE 0 END AS ndp,
        |    CASE a WHEN 0 THEN 8 WHEN 1 THEN 8*r WHEN 2 THEN 8*(r+1)
        |      WHEN 3 THEN 24*r ELSE 8*r END AS cov2,
        |    CASE a WHEN 1 THEN 6*r WHEN 2 THEN 6*(r+1) WHEN 4 THEN 4*r
        |      ELSE 0 END AS d5
        |  FROM p),
        |d AS (
        |  SELECT doc_id, n_lines, n_paras,
        |    ndl * 1000000 // n_lines AS dl_ppm,
        |    ndp * 1000000 // n_paras AS dp_ppm,
        |    (49 * ndl) * 1000000 // (49 * n_lines) AS dlc_ppm,
        |    cov2 * 1000000 // (40 * n_lines) AS t2_ppm,
        |    d5 * 1000000 // (6 * n_lines) AS d5_ppm
        |  FROM c)
        |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        |  CAST(n_paras AS BIGINT) AS n_paras,
        |  CAST(dl_ppm AS BIGINT) AS dup_line_ppm,
        |  CAST(dp_ppm AS BIGINT) AS dup_para_ppm,
        |  CAST(dlc_ppm AS BIGINT) AS dup_line_char_ppm,
        |  CAST(t2_ppm AS BIGINT) AS top_2gram_char_ppm,
        |  CAST(d5_ppm AS BIGINT) AS dup_5gram_ppm,
        |  CASE WHEN dl_ppm > 300000 THEN 'dup_line'
        |       WHEN dp_ppm > 300000 THEN 'dup_para'
        |       WHEN dlc_ppm > 200000 THEN 'dup_line_char'
        |       WHEN t2_ppm > 200000 THEN 'top_2gram'
        |       WHEN d5_ppm > 150000 THEN 'dup_5gram'
        |       ELSE 'keep' END AS verdict
        |FROM d""".stripMargin),

    // ── CORPUS-CONSTRUCTION capstone: the round-13b filter block
    // composed in production order — script gate → Gopher quality →
    // Gopher repetition → paragraph dedup over SURVIVORS ONLY (filter
    // then dedup, the standard pipeline order — dedup truth depends
    // on the survivor set) → token-budget cut. Five arms: clean
    // keeper (58 id-unique words + stopwords), 4-word quality reject,
    // 3-identical-line repetition reject, shared-paragraph docs (the
    // %9-residue paragraph is byte-identical across docs, so only the
    // min-id survivor keeps it; the %2=1 subclass carries ONLY the
    // shared paragraph and fully empties unless it is the keeper),
    // and a Cyrillic doc that the script gate must catch BEFORE the
    // alpha rule would mislabel it as a quality reject. Every
    // paragraph is exactly 60 words, so tokens = 60·n_kept and the
    // ENTIRE chain — including the budget cumsum — is closed-form but
    // for one keep-first min-window. Multi-consumer fixture
    // localCheckpoint'd once (q243 discipline). ──
    QuerySpec("q264_corpus_capstone", (s, dir) => {
      import graft.ext.{Dedup, TextAnalysis}
      val id = col("doc_id")
      def para(prefix: String, tag: Column): Column =
        concat(concat_ws(" ", transform(sequence(lit(0), lit(57)),
          k => format_string(prefix + "%d%03d", tag, k))), lit(" the and"))
      val line = para("w", id)
      val text = when(id % 5 === 0, line)
        .when(id % 5 === 1, lit("tiny text the and"))
        .when(id % 5 === 2, concat_ws("\n", line, line, line))
        .when(id % 5 === 3,
          when(id % 2 === 0,
            concat(para("p", id % 9), lit("\n\n"), para("u", id)))
            .otherwise(para("p", id % 9)))
        .otherwise(concat_ws(" ", transform(sequence(lit(0), lit(59)),
          k => format_string("м%03d", k))))
      // hash by doc_id at session width, not round-robin at a pinned 32
      // (round-20): the family convention for CPU-heavy per-row text
      // work; also avoids round-robin's sort-before-repartition pass
      // (SPARK-23207 — keyless repartition locally sorts its input so
      // retries reproduce the assignment). NOTE measured: the
      // localCheckpoint does NOT carry hash partitioning through to the
      // downstream joins in Spark 4.1 (plans/r20/q264 before==after on
      // Exchange count), so this is a small win, not a join-reuse one.
      val fx = t(s, dir, "documents").select(id).repartition(id)
        .select(id, text.as("text")).localCheckpoint()
      val sc = TextAnalysis.scriptProfile(fx, "doc_id", "text")
        .select(id, col("dominant"))
      val gq = TextAnalysis.gopherQualityFlags(fx, "doc_id", "text")
        .select(id, col("verdict").as("__gq"))
      val rp = TextAnalysis.repetitionFlags(fx, "doc_id", "text")
        .select(id, col("verdict").as("__rp"))
      val flags = fx.select(id).join(sc, "doc_id").join(gq, "doc_id")
        .join(rp, "doc_id").localCheckpoint()
      val surviving = flags.filter(col("dominant") === "latin" &&
        col("__gq") === "keep" && col("__rp") === "keep").select(id)
      // toks feeds the budget draw AND the final join-back — left
      // lazy, the whole paragraph-dedup subtree ran twice (the q69
      // rule; round-19 optimization)
      val toks = Dedup.dedupParagraphsCorpus(
          fx.join(surviving, "doc_id"), "doc_id", "text")
        .select(id, col("n_kept"),
          size(filter(split(col("text_dedup"), "[ \t\r\n]+"),
            w => w =!= "")).cast("long").as("n_tokens"))
        .localCheckpoint()
      val sel = graft.operators.Sampling.selectByBudget(
          toks.filter(col("n_kept") > 0)
            .select(id,
              (((id % 71) * (id % 71)) % 71).cast("long").as("score"),
              col("n_tokens").as("cost")),
          "doc_id", "score", "cost", 9000L)
        .select(id, col("cum_cost"), col("selected"))
      flags.join(toks, Seq("doc_id"), "left")
        .join(sel, Seq("doc_id"), "left")
        .select(id,
          when(col("dominant") =!= "latin", lit("wrong_script"))
            .when(col("__gq") =!= "keep", lit("quality"))
            .when(col("__rp") =!= "keep", lit("repetitive"))
            .when(col("n_kept") === 0, lit("all_duplicate"))
            .when(col("selected"), lit("kept"))
            .otherwise(lit("over_budget")).as("decision"),
          col("n_tokens"), col("cum_cost"))
    },
      // corpus-capstone mirror: the whole composed chain is residue
      // arithmetic — pre-dedup rejects by arm, tokens = 60·n_kept with
      // keep-first as ONE min window over the shared-paragraph residue,
      // the budget cut as the naive global cumsum
      """WITH b AS (
        |  SELECT doc_id, doc_id % 5 AS f, doc_id % 9 AS r,
        |    doc_id % 2 AS h,
        |    ((doc_id % 71)*(doc_id % 71)) % 71 AS score,
        |    length(CAST(doc_id AS VARCHAR)) AS dl
        |  FROM documents),
        |-- the w/u words are 'w{id}{k:03}': 4+digits(id) chars each,
        |-- so the f0/f2 (and f3 h=0 mixed) mean word length crosses
        |-- gopher's 1000 bound for long-enough ids — mirror that gate
        |-- so the oracle stays correct at ANY id scale, not just the
        |-- current fixture's (review finding; the round-12 extend-the-
        |-- mirror-off-fixture discipline)
        |g AS (
        |  SELECT *,
        |    (58*(4+dl)+6) * 100 // 60 AS mc_w,
        |    (534 + 58*dl) * 100 // 120 AS mc_pu
        |  FROM b),
        |s AS (
        |  SELECT *, CASE WHEN f = 4 THEN 'wrong_script'
        |    WHEN f = 1 THEN 'quality'
        |    WHEN f = 0 AND mc_w > 1000 THEN 'quality'
        |    WHEN f = 2 AND mc_w > 1000 THEN 'quality'
        |    WHEN f = 2 THEN 'repetitive'
        |    WHEN f = 3 AND h = 0 AND mc_pu > 1000 THEN 'quality'
        |    END AS pre
        |  FROM g),
        |dd AS (
        |  SELECT *, CASE WHEN f = 3
        |    THEN min(doc_id) OVER (PARTITION BY r, f) END AS kp
        |  FROM s WHERE pre IS NULL AND f IN (0, 3)),
        |dt AS (
        |  SELECT doc_id, score,
        |    CASE WHEN f = 0 THEN 1
        |      WHEN h = 0 THEN 1 + (CASE WHEN doc_id = kp THEN 1 ELSE 0 END)
        |      ELSE CASE WHEN doc_id = kp THEN 1 ELSE 0 END END AS n_kept
        |  FROM dd),
        |bu AS (SELECT doc_id, score, n_kept, 60 * n_kept AS n_tokens
        |  FROM dt),
        |cm AS (
        |  SELECT doc_id, sum(n_tokens) OVER (ORDER BY score DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bu WHERE n_kept > 0)
        |SELECT s.doc_id,
        |  CASE WHEN s.pre IS NOT NULL THEN s.pre
        |       WHEN bu.n_kept = 0 THEN 'all_duplicate'
        |       WHEN cm.cum <= 9000 THEN 'kept'
        |       ELSE 'over_budget' END AS decision,
        |  CAST(bu.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(cm.cum AS BIGINT) AS cum_cost
        |FROM s
        |LEFT JOIN bu ON s.doc_id = bu.doc_id
        |LEFT JOIN cm ON s.doc_id = cm.doc_id""".stripMargin),

    // ── C4 cleaning rules (TextAnalysis.c4Rules — Raffel et al. 2020
    // §2.2, the third classic filter family after gopher quality and
    // repetition): eight residue arms — pure good lines; CRLF +
    // padded bad-punct lines (certifying the per-line trim: the \r
    // rides every non-final line and must not break the terminal-
    // punct rule); short-line and javascript-line drops; a KEPT lorem
    // line whose page still routes `lorem` (page rules test RAW
    // text); a brace line dropped at line stage while the page routes
    // `brace`; a badword line that ALSO carries `{` so the
    // badword>brace precedence is live; a two-line page under
    // minLinesKept. Counts and clean_text are closed-form in (a,G,B),
    // so the oracle is residue arithmetic + string rebuilds — it
    // shares no line-splitting logic with the operator. ──
    QuerySpec("q265_c4_rules", (s, dir) =>
      graft.ext.TextAnalysis.c4Rules(
        c4Fixture(t(s, dir, "documents")), "doc_id", "text"),
      // c4-rules mirror (shared C4RulesSql — the streaming twin q271
      // certifies against it verbatim)
      C4RulesSql),

    // ── streaming C4 twin (the q263 discipline): c4Rules is a pure
    // per-row projection, so the same eight-arm fixture replayed over
    // two JSONL waves through projectionStreamReplay must equal the
    // batch output — certified against q265's oracle VERBATIM (shared
    // C4RulesSql val + shared c4Fixture helper). ──
    QuerySpec("q271_c4_stream", (s, dir) =>
      graft.streaming.StreamingReports.projectionStreamReplay(
        s, c4Fixture(t(s, dir, "documents")), "doc_id", "text",
        df => graft.ext.TextAnalysis.c4Rules(df, "doc_id", "text")),
      C4RulesSql),

    // ── token-contrast quality classifier (TextClassifier — the
    // GPT-3/CCNet quality-filter stage in integer ppm): TRAIN on a
    // parity split of the corpus (even ids = "good"-heavy positives,
    // odd = "spam"-heavy negatives, shared `the`/`end` function
    // words, per-doc token counts 1+id%5 so class totals are residue
    // sums), then SCORE a disjoint three-arm fixture — pos-leaning,
    // neg-leaning, and a good+spam+OOV arm whose verdict hangs on the
    // smoothed unseen weight. The oracle recomputes class counts as
    // SQL residue sums and every weight/score as integer DIV — the
    // full train→score chain certified end-to-end, nothing shared
    // with the operator. ──
    QuerySpec("q267_nb_classifier", (s, dir) => {
      import graft.ext.TextClassifier
      val id = col("doc_id")
      val train = nbTrainFixture(t(s, dir, "documents"))
      val model = TextClassifier.nbTrainContrast(
        train.filter(id % 2 === 0), train.filter(id % 2 === 1), "text")
      TextClassifier.nbScoreContrast(model,
        nbScoreFixture(t(s, dir, "documents")), "doc_id", "text")
    },
      // nb-classifier mirror (shared NbClassifierSql — the incremental
      // q278 certifies against it verbatim: merged batch models must
      // equal the one-shot train)
      NbClassifierSql),

    // ── incremental classifier training (TextClassifier.nbMergeModels
    // — the q97/q186 mergeable-state discipline on the quality
    // model): the SAME training corpus split into two batches by
    // (id DIV 2) % 2 (each batch carries both classes), trained
    // separately, MERGED (counts sum, weights recompute through the
    // one-shot trainer's arithmetic), then scored — certified against
    // q267's oracle VERBATIM (shared NbClassifierSql val): merge of
    // batch models must equal the full one-shot train exactly. ──
    QuerySpec("q278_nb_incremental", (s, dir) => {
      import graft.ext.TextClassifier
      val id = col("doc_id")
      val train = nbTrainFixture(t(s, dir, "documents"))
      def batchModel(k: Int) = {
        val b = train.filter((id / 2).cast("long") % 2 === k)
        TextClassifier.nbTrainContrast(
          b.filter(id % 2 === 0), b.filter(id % 2 === 1), "text")
      }
      TextClassifier.nbScoreContrast(
        TextClassifier.nbMergeModels(batchModel(0), batchModel(1)),
        nbScoreFixture(t(s, dir, "documents")), "doc_id", "text")
    },
      NbClassifierSql),

    // ── DSIR-style importance selection (Xie et al. 2023 composed
    // from certified parts): contrast weights trained TARGET-vs-RAW
    // (the DSIR importance ratio in the ppm space of q267's
    // classifier — target sample = the %5=0 slice, raw = the whole
    // four-arm corpus), every raw doc scored, then the top-score
    // prefix cut at a 600-token budget via selectByBudget. Scores
    // collapse to four arm-level tie groups and the budget lands
    // INSIDE one (125-doc arms × cost 3 vs budget 600), so the id
    // tie-break carries the cut — and cum 600 == budget certifies the
    // inclusive boundary. Oracle: class counts as residue sums,
    // weights/scores as integer //, the cut as the naive single-
    // window cumsum. ──
    QuerySpec("q268_dsir_select", (s, dir) => {
      import graft.ext.TextClassifier
      val docs = t(s, dir, "documents")
      val id = col("doc_id")
      val target = docs.filter(id % 5 === 0)
        .select(id, lit("fine fine the end").as("text")).repartition(32)
      val rawText = when(id % 4 === 0, lit("fine fine the"))
        .when(id % 4 === 1, lit("junk the end"))
        .when(id % 4 === 2, lit("fine junk the"))
        .otherwise(lit("fine the end"))
      val raw = docs.select(id, rawText.as("text")).repartition(32)
      val model = TextClassifier.nbTrainContrast(target, raw, "text")
      val scored = TextClassifier.nbScoreContrast(model, raw, "doc_id", "text")
      graft.operators.Sampling.selectByBudget(
        scored.select(id, col("score"), col("n_toks").as("cost")),
        "doc_id", "score", "cost", 600L)
    },
      // dsir-select mirror: target-vs-raw weights from residue sums,
      // arm scores, then the naive single-window running sum
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 AS r, doc_id % 5 AS t5
        |  FROM documents),
        |tot AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN t5 = 0 THEN 1 ELSE 0 END) AS nt,
        |    sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS n0,
        |    sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS n1,
        |    sum(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS n2,
        |    sum(CASE WHEN r = 3 THEN 1 ELSE 0 END) AS n3
        |  FROM d),
        |w AS (
        |  SELECT
        |    (2*nt+1)*1000000 // (4*nt+4)
        |      - (2*n0+n2+n3+1)*1000000 // (3*n+4) AS wf,
        |    1000000 // (4*nt+4)
        |      - (n1+n2+1)*1000000 // (3*n+4) AS wj,
        |    (nt+1)*1000000 // (4*nt+4)
        |      - (n+1)*1000000 // (3*n+4) AS wt,
        |    (nt+1)*1000000 // (4*nt+4)
        |      - (n1+n3+1)*1000000 // (3*n+4) AS we
        |  FROM tot),
        |sc AS (
        |  SELECT doc_id,
        |    CASE r WHEN 0 THEN 2*wf + wt WHEN 1 THEN wj + wt + we
        |      WHEN 2 THEN wf + wj + wt ELSE wf + wt + we END AS score,
        |    3 AS cost
        |  FROM d, w),
        |c AS (
        |  SELECT doc_id, score, cost,
        |    sum(cost) OVER (ORDER BY score DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM sc)
        |SELECT doc_id, CAST(score AS BIGINT) AS score,
        |  CAST(cost AS BIGINT) AS cost, CAST(cum AS BIGINT) AS cum_cost,
        |  cum <= 600 AS selected
        |FROM c""".stripMargin),

    // ── bitext margin mining (Bitext.mineMarginPairs — Artetxe &
    // Schwenk 2019): source = even vec_ids, target = odd, k=4
    // neighborhood; cosines come from the certified bruteForceTopK
    // fold and the margin is nonnegative-integer arithmetic over
    // shifted scores, so the whole miner hash-certifies (the q19
    // precedent). The backward pass reuses the symmetric cosines —
    // the mutual flag certifies forward/backward consistency. ──
    QuerySpec("q273_bitext_mine", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ext.Bitext.mineMarginPairs(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", k = 4, minMarginC1000 = 1005L)
    },
      // bitext-mining mirror: the same symmetric-cosine fold (the q19
      // list_reduce idiom), shifted-integer margin, backward top-1 from
      // the SAME pair scores
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |    list_reduce(list_transform(list_zip(embedding, embedding),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
        |      (a, b) -> a + b) AS nn
        |  FROM embeddings),
        |s AS (SELECT * FROM n WHERE vec_id % 2 = 0),
        |t AS (SELECT * FROM n WHERE vec_id % 2 = 1),
        |fwd AS (
        |  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
        |    list_reduce(list_transform(list_zip(s.embedding, t.embedding),
        |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
        |      (a, b) -> a + b) / sqrt(s.nn * t.nn) AS cosine
        |  FROM s JOIN t ON true),
        |rk AS (
        |  SELECT src_id, tgt_id,
        |    CAST(floor((cosine + 1) * 1000000) AS BIGINT) AS sc,
        |    row_number() OVER (PARTITION BY src_id
        |      ORDER BY cosine DESC, tgt_id) AS r
        |  FROM fwd),
        |ag AS (
        |  SELECT src_id, sum(sc) AS ssum, count(*) AS kk,
        |    max(CASE WHEN r = 1 THEN tgt_id END) AS tgt_id,
        |    max(CASE WHEN r = 1 THEN sc END) AS top_sim_s
        |  FROM rk WHERE r <= 4 GROUP BY src_id),
        |mg AS (
        |  SELECT src_id, tgt_id, top_sim_s,
        |    CASE WHEN ssum > 0
        |      THEN CAST(top_sim_s * 1000 * kk // ssum AS BIGINT) END
        |      AS margin_c1000
        |  FROM ag),
        |bw AS (
        |  SELECT tgt_id, src_id AS b_src,
        |    row_number() OVER (PARTITION BY tgt_id
        |      ORDER BY cosine DESC, src_id) AS r
        |  FROM fwd)
        |SELECT mg.src_id, mg.tgt_id, mg.top_sim_s, mg.margin_c1000,
        |  coalesce(bw.b_src = mg.src_id, FALSE) AS mutual,
        |  coalesce(mg.margin_c1000 > 1005, FALSE) AS accepted
        |FROM mg
        |LEFT JOIN (SELECT tgt_id, b_src FROM bw WHERE r = 1) bw
        |  ON mg.tgt_id = bw.tgt_id""".stripMargin),

    // ── C4 three-sentence-span dedup (Dedup.dedupSentenceSpans —
    // the paper's corpus-level dedup, span grain not doc grain): five
    // residue arms — unique docs; a shared 3-sentence HEAD block
    // (non-keepers lose exactly the head, their unique tail survives
    // — the whole point of span-grain dedup); a 2-sentence overlap
    // that must NOT dedup (every span contains a unique sentence); a
    // within-doc 4× repeated sentence (overlapping spans, keeper by
    // (doc,pos) argmin, sentences 1-3 removed); whole-doc shared
    // blocks emptying non-keepers to n_kept=0. Keepers are
    // corpus-wide min-id per (arm, g) — the oracle derives them with
    // min windows over residues and rebuilds every text closed-form. ──
    QuerySpec("q274_c4_span_dedup", (s, dir) => {
      val id = col("doc_id")
      val a = id % 5
      val g = (id % 9).cast("string")
      def sent(tag: Column): Column = concat(tag, lit(" alpha beta."))
      def u(k: Int): Column =
        sent(concat(lit("u"), id.cast("string"), lit("x" + k)))
      def tg(p: String, k: Int): Column =
        sent(concat(lit(p), g, lit("x" + k)))
      val r = sent(concat(lit("r"), id.cast("string")))
      val text = when(a === 0, concat_ws(" ", u(0), u(1), u(2), u(3), u(4)))
        .when(a === 1, concat_ws(" ",
          tg("b", 0), tg("b", 1), tg("b", 2), u(3), u(4)))
        .when(a === 2, concat_ws(" ",
          tg("p", 0), tg("p", 1), u(2), u(3), u(4)))
        .when(a === 3, concat_ws(" ", r, r, r, r, u(4)))
        .otherwise(concat_ws(" ", tg("c", 0), tg("c", 1), tg("c", 2)))
      graft.ext.Dedup.dedupSentenceSpans(
        t(s, dir, "documents").select(id).repartition(32)
          .select(id, text.as("text")),
        "doc_id", "text")
    },
      // span-dedup mirror: keepers from min windows over residues,
      // every rebuilt text closed-form — no span fingerprinting
      // oracle-side
      """WITH d AS (
        |  SELECT doc_id, doc_id % 5 AS a, doc_id % 9 AS g
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, a, g,
        |    min(CASE WHEN a = 1 THEN doc_id END)
        |      OVER (PARTITION BY g) AS kb,
        |    min(CASE WHEN a = 4 THEN doc_id END)
        |      OVER (PARTITION BY g) AS kc
        |  FROM d),
        |f AS (
        |  SELECT doc_id, a, kb, kc,
        |    CAST(doc_id AS VARCHAR) AS i, CAST(g AS VARCHAR) AS gs
        |  FROM w)
        |SELECT doc_id,
        |  CAST(CASE WHEN a = 4 THEN 3 ELSE 5 END AS BIGINT) AS n_sents,
        |  CAST(CASE WHEN a = 0 OR a = 2 THEN 5
        |            WHEN a = 1 THEN
        |              CASE WHEN doc_id = kb THEN 5 ELSE 2 END
        |            WHEN a = 3 THEN 2
        |            ELSE CASE WHEN doc_id = kc THEN 3 ELSE 0 END
        |       END AS BIGINT) AS n_kept,
        |  CASE WHEN a = 0 THEN
        |    'u'||i||'x0 alpha beta. u'||i||'x1 alpha beta. u'||i
        |      ||'x2 alpha beta. u'||i||'x3 alpha beta. u'||i
        |      ||'x4 alpha beta.'
        |  WHEN a = 1 AND doc_id = kb THEN
        |    'b'||gs||'x0 alpha beta. b'||gs||'x1 alpha beta. b'||gs
        |      ||'x2 alpha beta. u'||i||'x3 alpha beta. u'||i
        |      ||'x4 alpha beta.'
        |  WHEN a = 1 THEN
        |    'u'||i||'x3 alpha beta. u'||i||'x4 alpha beta.'
        |  WHEN a = 2 THEN
        |    'p'||gs||'x0 alpha beta. p'||gs||'x1 alpha beta. u'||i
        |      ||'x2 alpha beta. u'||i||'x3 alpha beta. u'||i
        |      ||'x4 alpha beta.'
        |  WHEN a = 3 THEN 'r'||i||' alpha beta. u'||i||'x4 alpha beta.'
        |  WHEN doc_id = kc THEN
        |    'c'||gs||'x0 alpha beta. c'||gs||'x1 alpha beta. c'||gs
        |      ||'x2 alpha beta.'
        |  ELSE '' END AS text_dedup
        |FROM f""".stripMargin),

    // ── NORMALIZED n-gram decontamination (q222's exact rule over
    // normalizeForDedup'd text — the leak class raw decon MISSES by
    // construction here: eval carries accents and different digits
    // than the training copies, so no raw 4-gram matches; normalized,
    // the 8-token sentence shares all 5 grams). Group tags are
    // LETTER-translated (digit tags collapse under digits→0) and
    // keyed on (id DIV 5) % 8 so eval (%5=0) and train (%5=1) cover
    // the same tag range — a %-residue tag would make the two sides
    // DISJOINT. Every %5=1 train doc is flagged with exactly 5 shared
    // grams; %5∈{2,3,4} docs are all-unique and must not appear. ──
    QuerySpec("q275_norm_decontaminate", (s, dir) => {
      import graft.ext.{Dedup, TextAnalysis}
      val id = col("doc_id")
      // (id / 5).cast("long") — Column `/` is FRACTIONAL division;
      // without the cast the tag renders "3.2"-style and eval/train
      // tags never match (caught by the oracle: 1 shared gram, the
      // tag-free suffix, instead of 5)
      val tg = translate(((id / 5).cast("long") % 8).cast("string"),
        "0123456789", "abcdefghij")
      val evalTxt = concat(lit("café "), (lit(10) + id % 89).cast("string"),
        lit(" price h"), tg, lit(" alpha beta gamma delta"))
      val trainTxt = when(id % 5 === 1,
        concat(lit("cafe "), (lit(10) + (id * 7) % 89).cast("string"),
          lit(" price h"), tg, lit(" alpha beta gamma delta")))
        .otherwise(concat_ws(" ",
          (0 to 4).map(k => concat(lit(s"u${k}q"), id.cast("string"))): _*))
      val docs = t(s, dir, "documents").select(id).repartition(32)
      def norm(df: DataFrame): DataFrame = df.withColumn("text",
        TextAnalysis.normalizeForDedup(col("text")))
      Dedup.ngramContaminated(
        norm(docs.filter(id % 5 =!= 0).select(id, trainTxt.as("text"))),
        norm(docs.filter(id % 5 === 0).select(id, evalTxt.as("text"))),
        "doc_id", "text", n = 4)
    },
      // norm-decontamination mirror: the flag set and gram count are
      // pure residue facts (every %5=1 doc shares exactly the 5 grams
      // of its normalized 8-token sentence)
      """SELECT doc_id, CAST(5 AS BIGINT) AS n_shared_grams
        |FROM documents WHERE doc_id % 5 = 1""".stripMargin),

    // ── CCNet perplexity-tercile bucketing (Quantiles.bucketByGroup
    // Terciles): per-language head/middle/tail with EXACT rational
    // 1/3–2/3 boundaries from the histogram machinery (no float p —
    // a double 1/3 sits below the true ratio and can flip boundary
    // rows). Quadratic-residue scores carry heavy ties so rows AT a
    // boundary are live (score == t1 → head, inclusive). The oracle
    // mirrors the percentile_disc DEFINITION (min v with cum·3 ≥ k·n
    // over the group histogram) — not an engine quantile function. ──
    QuerySpec("q277_ppl_buckets", (s, dir) => {
      val id = col("doc_id")
      graft.operators.Quantiles.bucketByGroupTerciles(
        t(s, dir, "documents").select(id).repartition(32)
          .select(id,
            concat(lit("l"), (id % 3).cast("string")).as("lang"),
            ((id * id) % 101).cast("long").as("score")),
        "lang", "score")
    },
      // ppl-buckets mirror: the percentile_disc DEFINITION over the
      // group histogram — integer cum·3 ≥ k·n, no engine quantile call
      """WITH d AS (
        |  SELECT doc_id, 'l' || CAST(doc_id % 3 AS VARCHAR) AS lang,
        |    CAST((doc_id * doc_id) % 101 AS BIGINT) AS score
        |  FROM documents),
        |h AS (
        |  SELECT lang, score AS v, count(*) AS w
        |  FROM d GROUP BY 1, 2),
        |c AS (
        |  SELECT lang, v,
        |    sum(w) OVER (PARTITION BY lang ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(w) OVER (PARTITION BY lang) AS n
        |  FROM h),
        |b AS (
        |  SELECT lang,
        |    CAST(min(CASE WHEN cum * 3 >= n THEN v END) AS BIGINT) AS t1,
        |    CAST(min(CASE WHEN cum * 3 >= 2 * n THEN v END) AS BIGINT)
        |      AS t2
        |  FROM c GROUP BY lang)
        |SELECT doc_id, d.lang, score, t1, t2,
        |  CASE WHEN score <= t1 THEN 'head'
        |       WHEN score <= t2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM d JOIN b ON d.lang = b.lang""".stripMargin),

    // ── web-corpus capstone v2 (q280): the FULL raw-bytes-to-corpus
    // chain — WARC split (q269) → HTTP parse (q236) → paragraph
    // extraction (q226) → C4 rules (q265) → token-contrast quality
    // gate (q267) — in production order with survivor-only scoring,
    // one five-class decision per input blob: bad_status/bad_type die
    // at intake, brace/few_lines at the C4 stage, classifier `neg`
    // routes low_quality, survivors keep. One record per blob so the
    // whole chain stays doc-grain; Content-Length from
    // length(payload); the classifier model is q267's parity-trained
    // fixture, so the oracle reuses NbClassifierSql's residue-sum
    // weight arithmetic and every score is closed-form. ──
    QuerySpec("q280_web_corpus_capstone", (s, dir) => {
      import graft.ext.{HtmlExtract, HttpRecord, TextClassifier, WarcRecord}
      val id = col("doc_id")
      val docs = t(s, dir, "documents")
      val train = nbTrainFixture(docs)
      val model = TextClassifier.nbTrainContrast(
        train.filter(id % 2 === 0), train.filter(id % 2 === 1), "text")
      val c = id % 6
      val good = "<p>good good the.</p>"
      val body = when(c === 4,
          lit("<p>spam spam the.</p><p>spam spam the.</p><p>spam spam the.</p>"))
        .when(c === 2, lit(good + "<p>var x = { 1 };</p>" + good))
        .when(c === 3, lit(good + good))
        .otherwise(lit(good + good + good))
      val statusLine = when(c === 1, lit("HTTP/1.1 404 Not Found"))
        .otherwise(lit("HTTP/1.1 200 OK"))
      val ctype = when(c === 5, lit("application/pdf"))
        .otherwise(lit("text/html"))
      val payload = concat(statusLine, lit("\r\nContent-Type: "), ctype,
        lit("\r\n\r\n<html><body>"), body, lit("</body></html>"))
      val blob = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u"),
        id.cast("string"), lit("\r\nContent-Length: "),
        length(payload).cast("string"), lit("\r\n\r\n"), payload,
        lit("\r\n\r\n"))
      val recs = WarcRecord.splitRecords(
          docs.select(id).repartition(32).select(id, blob.as("blob")),
          "doc_id", "blob")
        .localCheckpoint()
      val parsed = HttpRecord.parse(recs, "doc_id", "payload")
        .select(id, col("decision").as("__hd"))
      val staged = recs.join(parsed, Seq("doc_id"))
        .withColumn("__clean_in", array_join(
          HtmlExtract.paragraphs(HttpRecord.body(col("payload"))), "\n"))
        .localCheckpoint()
      val c4 = graft.ext.TextAnalysis.c4Rules(
          staged.filter(col("__hd") === "ok")
            .select(id, col("__clean_in").as("text")),
          "doc_id", "text")
        .select(id, col("verdict").as("__c4"), col("clean_text"))
        .localCheckpoint()
      val scored = TextClassifier.nbScoreContrast(model,
          c4.filter(col("__c4") === "keep")
            .select(id, col("clean_text").as("text")),
          "doc_id", "text")
        .select(id, col("score"), col("label"))
      staged.select(id, col("__hd"))
        .join(c4.select(id, col("__c4")), Seq("doc_id"), "left")
        .join(scored, Seq("doc_id"), "left")
        .select(id,
          when(col("__hd") =!= "ok", col("__hd"))
            .when(col("__c4") =!= "keep", col("__c4"))
            .when(col("label") === "neg", lit("low_quality"))
            .otherwise(lit("kept")).as("decision"),
          col("score"))
    },
      // web-corpus-capstone mirror: NbClassifierSql's residue-sum weight
      // arithmetic recombined with the arm decision table — the whole
      // bytes-to-corpus chain as closed-form arithmetic
      """WITH d AS (SELECT doc_id, doc_id % 6 AS c FROM documents),
        |t2 AS (
        |  SELECT doc_id, 1 + doc_id % 5 AS p, doc_id % 2 AS par
        |  FROM documents),
        |tot AS (
        |  SELECT
        |    sum(CASE WHEN par = 0 THEN p ELSE 0 END) AS cg,
        |    sum(CASE WHEN par = 1 THEN p ELSE 0 END) AS cs,
        |    sum(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS ne,
        |    sum(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS no
        |  FROM t2),
        |w AS (
        |  SELECT
        |    (cg+1)*1000000 // (cg + 2*ne + 4)
        |      - 1000000 // (cs + 2*no + 4) AS wg,
        |    1000000 // (cg + 2*ne + 4)
        |      - (cs+1)*1000000 // (cs + 2*no + 4) AS ws,
        |    (ne+1)*1000000 // (cg + 2*ne + 4)
        |      - (no+1)*1000000 // (cs + 2*no + 4) AS wt
        |  FROM tot)
        |SELECT doc_id,
        |  CASE c WHEN 1 THEN 'bad_status' WHEN 5 THEN 'bad_type'
        |    WHEN 2 THEN 'brace' WHEN 3 THEN 'few_lines'
        |    WHEN 0 THEN CASE WHEN 6*wg + 3*wt > 0
        |      THEN 'kept' ELSE 'low_quality' END
        |    ELSE CASE WHEN 6*ws + 3*wt > 0
        |      THEN 'kept' ELSE 'low_quality' END END AS decision,
        |  CAST(CASE WHEN c = 0 THEN 6*wg + 3*wt
        |            WHEN c = 4 THEN 6*ws + 3*wt END AS BIGINT) AS score
        |FROM d, w""".stripMargin),

    // ── SFT chat-data validation + templating (ChatData.validateAnd
    // Render): the instruction-tuning intake rule set as a total
    // first-failing verdict over parsed `messages` JSON — bad_json /
    // empty / bad_role / system_pos / non_alternating / empty_turn /
    // dangling / keep — with the training template rendered for every
    // parseable record (audit posture). Ten residue arms, one per
    // class plus three keep shapes (with/without system, multi-turn);
    // the alternation rule is an index-carrying FOLD because ANSI
    // element_at throws on the empty rest array a system-only
    // conversation leaves. Oracle rebuilds every rendered template
    // from residues — no JSON parsing oracle-side. ──
    QuerySpec("q281_chat_template", (s, dir) =>
      graft.ext.ChatData.validateAndRender(
        chatFixture(t(s, dir, "documents")), "doc_id", "messages"),
      // chat-template mirror (shared ChatTemplateSql — the streaming
      // twin q285 certifies against it verbatim)
      ChatTemplateSql),

    // ── streaming chat-template twin (the stateless-twin family):
    // validateAndRender is a pure per-row projection, so the ten-arm
    // fixture replayed over two JSONL waves must equal the batch
    // output — certified against q281's oracle VERBATIM (shared
    // ChatTemplateSql val + shared chatFixture helper). The payload
    // here is itself JSON, so the replay harness's JSON-lines
    // envelope (.write.json → readStream.json) must round-trip nested
    // quoting — an escape-fidelity case the flat-text twins never
    // exercised. ──
    QuerySpec("q285_chat_stream", (s, dir) =>
      graft.streaming.StreamingReports.projectionStreamReplay(
        s, chatFixture(t(s, dir, "documents")), "doc_id", "messages",
        df => graft.ext.ChatData.validateAndRender(
          df, "doc_id", "messages")),
      ChatTemplateSql),

    // ── preference-pair preparation (ChatData.preparePreference
    // Pairs — DPO/RLHF reward data): six residue arms — unique valid
    // pairs; verbatim-identical chosen/rejected; a case+digit+punct
    // variant pair that only the NORMALIZED equality catches; blank
    // and null fields routing `missing`; and a=5 rows re-using the
    // prompt of row id−5 so keep-first prompt dedup fires with the
    // lower id as keeper. The a=0 arm ALSO collides with itself 300
    // apart (lcm(6,100)), so dup_prompt keepers are a genuine min
    // window, not an arm label. ──
    QuerySpec("q283_preference_pairs", (s, dir) => {
      val id = col("doc_id")
      val a = id % 6
      val i = id.cast("string")
      val tag = translate(
        when(a === 5, (id - 5) % 100).otherwise(id % 100).cast("string"),
        "0123456789", "abcdefghij")
      val prompt = when(a === 0 || a === 5,
        concat(lit("please explain "), tag))
        .otherwise(concat(lit("q"), i, lit(" unique prompt")))
      val chosen = when(a === 1, lit("same answer."))
        .when(a === 2, lit("The Answer 42."))
        .when(a === 4, lit(null).cast("string"))
        .otherwise(concat(lit("c"), i, lit(" good answer")))
      val rejected = when(a === 1, lit("same answer."))
        .when(a === 2, lit("the answer 73"))
        .when(a === 3, lit(""))
        .otherwise(concat(lit("r"), i, lit(" bad answer")))
      graft.ext.ChatData.preparePreferencePairs(
        t(s, dir, "documents").select(id).repartition(32)
          .select(id, prompt.as("prompt"), chosen.as("chosen"),
            rejected.as("rejected")),
        "doc_id", "prompt", "chosen", "rejected")
    },
      // preference-pairs mirror: prompt groups re-derived from residue
      // tags with a min window over the valid arms only
      """WITH d AS (SELECT doc_id, doc_id % 6 AS a FROM documents),
        |v AS (
        |  SELECT doc_id,
        |    CASE WHEN a = 5 THEN (doc_id - 5) % 100
        |         ELSE doc_id % 100 END AS tag
        |  FROM d WHERE a IN (0, 5)),
        |k AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY tag) AS keep_id
        |  FROM v)
        |SELECT d.doc_id,
        |  CASE WHEN a IN (3, 4) THEN 'missing'
        |       WHEN a = 1 THEN 'identical'
        |       WHEN a = 2 THEN 'near_identical'
        |       WHEN k.keep_id <> d.doc_id THEN 'dup_prompt'
        |       ELSE 'keep' END AS verdict,
        |  CAST(k.keep_id AS BIGINT) AS keep_id
        |FROM d LEFT JOIN k ON d.doc_id = k.doc_id""".stripMargin),

    // ── pack loss-mask spans (TextAnalysis.packMaskSpans — the
    // metadata tier over q61's packing): per (partition, chunk, doc)
    // spans with head/tail flags so a trainer can mask cross-document
    // attention across straddled chunk boundaries. Doc lengths
    // 10+id%50 against budget 128 straddle constantly; the oracle
    // re-derives offsets with its own window + range explode. ──
    QuerySpec("q284_pack_masks", (s, dir) => {
      val id = col("doc_id")
      graft.ext.TextAnalysis.packMaskSpans(
        t(s, dir, "documents").select(id).repartition(32)
          .select(id, (id % 4).cast("long").as("part"),
            (lit(10) + id % 50).cast("long").as("n_tok")),
        "part", "doc_id", col("n_tok"), budget = 128L)
    },
      // pack-masks mirror: independent window cumsum + range explode
      """WITH d AS (
        |  SELECT doc_id, doc_id % 4 AS part, 10 + doc_id % 50 AS n_tok
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, part, n_tok,
        |    coalesce(sum(n_tok) OVER (PARTITION BY part ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS off
        |  FROM d),
        |e AS (
        |  SELECT doc_id, part, n_tok, off,
        |    unnest(range(CAST(off // 128 AS BIGINT),
        |      CAST((off + n_tok - 1) // 128 + 1 AS BIGINT))) AS chunk
        |  FROM o)
        |SELECT CAST(part AS BIGINT) AS part, doc_id,
        |  CAST(chunk AS BIGINT) AS chunk,
        |  CAST(greatest(off - chunk * 128, 0) AS BIGINT) AS span_start,
        |  CAST(least(off + n_tok, (chunk + 1) * 128)
        |    - greatest(off, chunk * 128) AS BIGINT) AS span_len,
        |  off >= chunk * 128 AS is_head,
        |  off + n_tok <= (chunk + 1) * 128 AS is_tail
        |FROM e""".stripMargin),

    // ── two-signal decontamination report (q287): the raw (q222) and
    // normalized (q275) exact n-gram rules composed into one per-doc
    // decision — verbatim_leak (raw grams shared), normalized_leak
    // (only the normalized form matches: the case/digit-variant leak
    // class), clean. The fixture interleaves DIGITS through every
    // 4-gram so the variant arm shares ZERO raw grams but all 5
    // normalized ones; the verbatim arm is a byte-identical copy.
    // Tag-free gram prefixes match every eval doc, so raw counts are
    // corpus-independent residue facts. ──
    QuerySpec("q287_decon_report", (s, dir) => {
      import graft.ext.{Dedup, TextAnalysis}
      val id = col("doc_id")
      val tg = translate(((id / 5).cast("long") % 8).cast("string"),
        "0123456789", "abcdefghij")
      def sent(d1: String, d2: String, d3: String): Column =
        concat(lit(s"café $d1 alpha $d2 beta $d3 gamma h"), tg)
      val evalTxt = sent("11", "22", "33")
      val trainTxt = when(id % 5 === 1, sent("11", "22", "33"))
        .when(id % 5 === 2, sent("44", "55", "66"))
        .otherwise(concat_ws(" ",
          (0 to 4).map(k => concat(lit(s"z${k}w"), id.cast("string"))): _*))
      val docs = t(s, dir, "documents").select(id).repartition(32)
      val train = docs.filter(id % 5 =!= 0).select(id, trainTxt.as("text"))
      val evalD = docs.filter(id % 5 === 0).select(id, evalTxt.as("text"))
      def norm(df: DataFrame): DataFrame = df.withColumn("text",
        TextAnalysis.normalizeForDedup(col("text")))
      val raw = Dedup.ngramContaminated(train, evalD, "doc_id", "text", 4)
        .withColumnRenamed("n_shared_grams", "raw_grams")
      val nrm = Dedup.ngramContaminated(norm(train), norm(evalD),
          "doc_id", "text", 4)
        .withColumnRenamed("n_shared_grams", "norm_grams")
      train.select(id)
        .join(raw, Seq("doc_id"), "left").join(nrm, Seq("doc_id"), "left")
        .select(id,
          coalesce(col("raw_grams"), lit(0L)).as("raw_grams"),
          coalesce(col("norm_grams"), lit(0L)).as("norm_grams"),
          when(col("raw_grams") > 0, lit("verbatim_leak"))
            .when(col("norm_grams") > 0, lit("normalized_leak"))
            .otherwise(lit("clean")).as("decision"))
    },
      // decon-report mirror: both gram counts and the decision are pure
      // residue facts (digits in every gram make the variant arm raw-0)
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 5 = 1 THEN 5 ELSE 0 END AS BIGINT)
        |    AS raw_grams,
        |  CAST(CASE WHEN doc_id % 5 IN (1, 2) THEN 5 ELSE 0 END
        |    AS BIGINT) AS norm_grams,
        |  CASE WHEN doc_id % 5 = 1 THEN 'verbatim_leak'
        |       WHEN doc_id % 5 = 2 THEN 'normalized_leak'
        |       ELSE 'clean' END AS decision
        |FROM documents WHERE doc_id % 5 <> 0""".stripMargin),

    // ── LENGTH-BUCKETED inference batches (Batching.lengthBatches —
    // the inference/eval twin of training-side packing q61): items
    // totally ordered by (token count DESC, id) via globalDenseSeq
    // (range partition + broadcast prefix offsets, NEVER the
    // single-partition window), cut into 32-item batches, each
    // reporting its padding waste exactly — the metric that decides
    // whether a sweep sorts before batching. Integer throughout. ──
    QuerySpec("q340_length_batches", (s, dir) => {
      val id = col("doc_id")
      val docs = t(s, dir, "documents").select(id, col("text"))
        .repartition(32, id)
      graft.operators.Batching.lengthBatches(
        docs.select(id,
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok")),
        "doc_id", "n_tok", batchSize = 32)
    },
      // length-batch mirror: one global row_number over the same total
      // order, integer // cut, per-batch aggregates
      """WITH lenq AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok
        |  FROM documents),
        |sq AS (
        |  SELECT doc_id, n_tok,
        |    row_number() OVER (ORDER BY n_tok DESC, doc_id) AS seq
        |  FROM lenq),
        |b AS (SELECT (seq - 1) // 32 AS batch_id, n_tok FROM sq)
        |SELECT CAST(batch_id AS BIGINT) AS batch_id,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(max(n_tok) AS BIGINT) AS max_len,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |  CAST(max(n_tok) * count(*) - sum(n_tok) AS BIGINT)
        |    AS padding_tokens
        |FROM b GROUP BY 1""".stripMargin),

    // ── tokenizer fertility drift (q199's frozen model in operation):
    // train the 8 merges on the 4/5 REFERENCE slice only, encode the
    // held-out 1/5, roll up per source as fertility (BPE tokens per
    // word, ppm — all-integer div). This is the monitoring metric a
    // production tokenizer owner watches: a source whose fertility
    // sits far above the rest is text the frozen merges don't fit
    // (new domain / drift), the cue to retrain and re-encode. Also
    // exercises the encoder on words the trainer never saw (the
    // aw-stages of the oracle mirror that exactly). ──
    QuerySpec("q206_bpe_fertility", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.ext.Bpe.learnMerges(
        docs.filter(col("doc_id") % 5 =!= 0), "text", 8)
      graft.ext.Bpe.encodeCounts(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", merges)
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"), sum(col("n_bpe")).as("n_bpe"))
        .withColumn("fert_ppm", expr("CAST(n_bpe * 1000000 DIV n_words AS BIGINT)"))
    },
      BpeFertilitySql),

    // ── REAL BPE training (ext/Bpe — Sennrich et al. 2016): the top-8
    // merge ranks learned over the corpus word-type vocabulary, each
    // round one vocab-sized aggregate + a 1-row argmax. The oracle
    // re-runs the identical 8-round chain in DuckDB (literal replace
    // on '.'-wrapped symbol strings has the same left-to-right
    // non-overlapping semantics in both engines), so every rank, pair
    // AND weighted count is certified — q106's single-round pair
    // induction closed into an actual trained subword tokenizer. ──
    QuerySpec("q197_bpe_train", (s, dir) =>
      graft.ext.Bpe.trainReport(t(s, dir, "documents"), "text", k = 8),
      BpeTrainSql),

    // ── BPE encode (the apply side): per-document subword token
    // counts under the q197-trained merges. The corpus is exploded to
    // tokens ONCE and joined against the encoded word DICTIONARY
    // (vocabulary-sized — broadcastable at any corpus scale); the
    // 8-merge chain runs as a pure projection on word types, never
    // per occurrence. This is the token-budget operator of a training
    // pipeline: n_bpe is what you pack context windows by. ──
    QuerySpec("q198_bpe_encode", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.ext.Bpe.learnMerges(docs, "text", 8)
      graft.ext.Bpe.encodeCounts(docs, "doc_id", "text", merges)
    },
      BpeEncodeSql),

    // ── stored BPE tokenizer (the index-lifecycle discipline on the
    // MODEL artifact): train-once into an atomic content-keyed store
    // (merges/ = the HuggingFace merges.txt shape), every later encode
    // loads the FROZEN ranks — retraining on grown data would shift
    // token boundaries under every downstream count contract, q193's
    // frozen-codebook rule on the tokenizer side. Certified against
    // q198's IDENTICAL oracle: the storage round-trip must be
    // invisible in the rows. ──
    QuerySpec("q199_bpe_stored", (s, dir) => {
      val docs = t(s, dir, "documents")
      val fp = graft.operators.IndexStore.fingerprint(s"$dir/documents.parquet")
      val path = graft.operators.IndexStore.ensure(
        s"${System.getProperty("java.io.tmpdir")}/graft_bpe_${fp}_k8") { staging =>
        graft.ext.Bpe.writeModel(graft.ext.Bpe.learnMerges(docs, "text", 8), s, staging)
      }
      graft.ext.Bpe.encodeCounts(docs, "doc_id", "text", graft.ext.Bpe.readModel(s, path))
    },
      // identical-oracle certification: the stored-model round trip must
      // be invisible in the encoded rows.
      BpeEncodeSql),

    // ── ext: language ID + rolling-hash fingerprint certified (the two
    // text-analysis features q20 didn't cover). withLangGuess is the
    // scale-safe form (tokens + score array materialized once — the
    // naive single-tree form re-runs the tokenizer regex ~15× per row);
    // the rolling hash is order-SENSITIVE (transposed docs differ)
    // with every intermediate in signed-64 range in both engines. ──
    QuerySpec("q48_text_lang", (s, dir) => {
      val base = TextAnalysis.withLangGuess(
        t(s, dir, "documents"), "text", "lang_guess")
      base.select(col("doc_id"), col("lang"), col("lang_guess"),
        TextAnalysis.rollingFingerprint(TextAnalysis.tokens(col("text")))
          .as("roll_fp"))
    },
      // Language scores and the rolling hash mirrored term by term:
      // list_prepend(0, ...) makes DuckDB's init-less list_reduce fold
      // exactly like Spark's aggregate(…, 0, …); ties resolve by the
      // CASE order = profile declaration order on both sides.
      """WITH t AS (
        |  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, lang, toks,
        |    len(list_filter(toks, x -> x IN ('the','and','of','to','is','in','that','it','with','for'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('el','la','de','que','y','los','las','por','con','una'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('der','die','und','das','ist','nicht','ein','mit','von','den'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('le','la','les','et','est','des','une','dans','pour','que'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('il','di','che','la','per','una','sono','non','con','del'))) AS s_it
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_it) = 0 THEN 'und'
        |       WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_it) THEN 'en'
        |       WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_it) THEN 'es'
        |       WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_it) THEN 'de'
        |       WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_it) THEN 'fr'
        |       WHEN s_it = greatest(s_en, s_es, s_de, s_fr, s_it) THEN 'it'
        |       ELSE 'und' END AS lang_guess,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(toks, tok ->
        |      CAST(list_reduce(list_transform(range(1, 13),
        |        i -> CAST(CASE WHEN ascii(substr(md5(tok), i, 1)) <= 57
        |                  THEN ascii(substr(md5(tok), i, 1)) - 48
        |                  ELSE ascii(substr(md5(tok), i, 1)) - 87 END AS BIGINT)),
        |        (a, b) -> a * 16 + b) AS BIGINT))),
        |    (acc, h) -> (acc * 1000003 + h) % 1099511627776) AS roll_fp
        |FROM s""".stripMargin),

    // ── benchmark decontamination: training docs near-dupping an
    // eval doc (doc_id % 5 == 0 plays the benchmark) are anti-joined
    // out — eval-driven candidate work, the training side is never
    // self-joined ──
    QuerySpec("q87_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", shingleK = 3, numHashes = 128, bands = 32,
          threshold = 0.8)
        .select("doc_id")
    },
      // q79's exact cross-side Jaccard, inverted: training docs NOT
      // matched by any eval doc at >= 0.8.
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
        |  SELECT a.doc_id AS e_id, b.doc_id AS t_id, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
        |  GROUP BY 1, 2),
        |hits AS (
        |  SELECT DISTINCT t_id
        |  FROM inter JOIN sz sa ON sa.doc_id = e_id JOIN sz sb ON sb.doc_id = t_id
        |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 5 <> 0 AND doc_id NOT IN (SELECT t_id FROM hits)""".stripMargin),

    // ── TF-IDF top terms per document (division-form idf for exact
    // cross-engine parity — see TextAnalysis.tfIdf scaladoc; the
    // ln-form ranking is identical, the division form is bit-stable) ──
    QuerySpec("q59_tfidf", (s, dir) =>
      TextAnalysis.tfIdf(t(s, dir, "documents"), "doc_id", "text", topN = 3),
      // Division-form idf mirrored with identical cast/operation order;
      // ties in the per-doc ranking break on the token string.
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf)
        |SELECT doc_id, token, tf, df,
        |  CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY
        |    CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) DESC,
        |    token) AS rank
        |FROM tf JOIN dfreq USING (token) CROSS JOIN nd
        |QUALIFY rank <= 3""".stripMargin),

    // ── PII scrubbing: emails / phones / card-like digit runs →
    // typed tags. The corpus has no organic PII, so the query plants
    // deterministic synthetic PII derived from each row's own columns,
    // then certifies the redaction + counts. ──
    QuerySpec("q60_pii_redact", (s, dir) => {
      val docs = t(s, dir, "documents")
      val raw = concat(
        lit("contact "), col("source"), lit("_"), col("doc_id").cast("string"),
        lit("@example.com or +1-555-"),
        lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
        lit(" card 4111111111111111 :: "), substring(col("text"), 1, 40))
      val (nEmails, nPhones) = TextAnalysis.piiCounts(col("raw"))
      docs.select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"), col("raw"),
          TextAnalysis.redactPii(col("raw")).as("clean"),
          nEmails.as("n_emails"), nPhones.as("n_phones"))
    },
      // Same RE2-safe patterns, global replacement; the planted PII is
      // derived from each row's own columns so both engines build the
      // identical raw string.
      """WITH r AS (
        |  SELECT doc_id,
        |    'contact ' || source || '_' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com or +1-555-' ||
        |    lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ||
        |    ' card 4111111111111111 :: ' || substr(text, 1, 40) AS raw
        |  FROM documents)
        |SELECT doc_id, raw,
        |  regexp_replace(regexp_replace(regexp_replace(raw,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+', '[EMAIL]', 'g'),
        |    '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
        |    '[0-9]{13,16}', '[NUM]', 'g') AS clean,
        |  len(regexp_extract_all(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+')) AS n_emails,
        |  len(regexp_extract_all(raw, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}')) AS n_phones
        |FROM r""".stripMargin),

    // ── sequence packing: fixed 256-token training chunks per source
    // shard by cumulative token offset (the window is bounded by the
    // source partition — a global pack would funnel everything through
    // one task; see TextAnalysis.packSequences) ──
    QuerySpec("q61_pack_sequences", (s, dir) =>
      TextAnalysis.packSequences(
          t(s, dir, "documents").withColumn("__nt",
            size(TextAnalysis.tokens(col("text"))).cast("long")),
          "source", "doc_id", col("__nt"), budget = 256L)
        .groupBy("source", "chunk")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("chunk_tokens")),
      // Window sums are exact integers; chunk = floor(offset/budget) is
      // cast back to BIGINT to mirror Spark's long floor-division result.
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |o AS (
        |  SELECT source, doc_id, n_tok,
        |    coalesce(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
        |  FROM d)
        |SELECT source, CAST(floor(tok_offset / 256) AS BIGINT) AS chunk,
        |  count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS chunk_tokens
        |FROM o GROUP BY 1, 2""".stripMargin),

    // ── sliding-window token chunking (context-window prep): 32-token
    // chunks every 16 tokens (50% overlap); one explode over per-row
    // start offsets, no shuffle ──
    QuerySpec("q64_chunk_windows", (s, dir) =>
      TextAnalysis.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 32, stride = 16),
      // list_slice truncates at the list end exactly like Spark's slice;
      // range(0, n, 16) == sequence(0, n-1, 16) for n > 0.
      """WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, toks, unnest(range(0, len(toks), 16)) AS start
        |  FROM t WHERE len(toks) > 0)
        |SELECT doc_id,
        |  CAST(start // 16 AS BIGINT) AS chunk_id,
        |  CAST(start AS BIGINT) AS chunk_start,
        |  len(list_slice(toks, start + 1, start + 32)) AS chunk_len,
        |  array_to_string(list_slice(toks, start + 1, start + 32), ' ') AS chunk_text
        |FROM s""".stripMargin),

    // ── repeated-bigram ratio (boilerplate/spam quality filter): the
    // share of bigram occurrences that repeat an earlier bigram in the
    // doc; integer-ratio division for parity ──
    QuerySpec("q65_repetition", (s, dir) =>
      TextAnalysis.repetitionRatio(t(s, dir, "documents"), "text", k = 2, "rep_ratio")
        .select("doc_id", "lang", "rep_ratio"),
      """WITH t AS (
        |  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN len(toks) >= 2 THEN
        |      list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
        |    ELSE [] END AS grams
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN len(grams) > 0 THEN
        |    CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
        |  ELSE 0.0 END AS rep_ratio
        |FROM g""".stripMargin),

    // ── the CAPSTONE: a full training-data pipeline in one declared
    // query — quality gate (token floor + repetition ratio) → exact
    // dedup (min-id keep) → near-dup clustering (minhash-LSH pairs →
    // connected components, representative keep) → deterministic 50%
    // sample → 256-token sequence packing per source. Certifies that
    // the extension operators COMPOSE: every stage's semantics are
    // reproduced end-to-end by one oracle SQL over the same files. ──
    QuerySpec("q69_pipeline_e2e", (s, dir) => {
      val docs = t(s, dir, "documents")
      val toked = docs.withColumn("__nt",
        size(TextAnalysis.tokens(col("text"))).cast("long"))
      // quality feeds the exact-dedup draw AND the join back into
      // unique — left lazy, the tokenize+repetition scan ran twice
      // (round-19 optimization, the localCheckpoint note below)
      val quality = TextAnalysis.repetitionRatio(toked, "text", 2, "__rep")
        .filter(col("__nt") >= 30 && col("__rep") < 0.5)
        .localCheckpoint()
      val keepIds = Dedup.exactDedup(quality, "doc_id", md5(col("text")))
        .select(col("keep_id").as("doc_id"))
      // the deduped corpus feeds THREE consumers (the minhash index
      // build, the cluster join-back, and the final pack), so
      // persist it once instead of re-running the quality+dedup subtree
      // per consumer — localCheckpoint here, a reliable checkpoint on a
      // real cluster (the ConnectedComponents truncate() convention);
      // measured 13 s → 8 s at sf0.1
      val unique = quality.join(keepIds, "doc_id").localCheckpoint()
      val pairs = Dedup.nearDupPairsMinhash(unique, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.8)
      val reps = graft.ext.ConnectedComponents
        .dedupClusters(unique, "doc_id", pairs, "doc_a", "doc_b")
        .filter(col("is_representative")).select("doc_id")
      val sampled = graft.operators.Sampling.hashSample(
        unique.join(reps, "doc_id"), col("doc_id"), 0.5, "pipe-v1")
      TextAnalysis.packSequences(sampled, "source", "doc_id", col("__nt"), budget = 256L)
        .groupBy("source", "chunk")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("chunk_tokens"))
    },
      // Every pipeline stage recomputed independently: quality gate,
      // min-id exact dedup, exact-Jaccard pairs (== the minhash-LSH set
      // at these parameters, same argument as q18), recursive-CTE
      // connected components, md5-threshold sample, window packing.
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, source, text,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents),
        |quality AS (
        |  SELECT doc_id, source, text, toks, len(toks) AS ntok
        |  FROM base
        |  WHERE len(toks) >= 30 AND
        |    CASE WHEN len(toks) >= 2 THEN
        |      CAST(len(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))
        |        - len(list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE)
        |      / CAST(len(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS DOUBLE)
        |    ELSE 0.0 END < 0.5),
        |uniq AS (
        |  SELECT q.* FROM quality q
        |  JOIN (SELECT md5(text) AS h, min(doc_id) AS keep_id
        |        FROM quality GROUP BY 1) k
        |    ON q.doc_id = k.keep_id),
        |tok AS (
        |  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
        |  FROM uniq),
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
        |reps AS (
        |  SELECT u.doc_id, u.source, u.ntok
        |  FROM uniq u LEFT JOIN comp c ON c.node = u.doc_id
        |  WHERE coalesce(c.component, u.doc_id) = u.doc_id),
        |samp AS (
        |  SELECT * FROM reps
        |  WHERE substr(md5(concat_ws(':', 'pipe-v1', CAST(doc_id AS VARCHAR))), 1, 8) < '80000000'),
        |off AS (
        |  SELECT source, doc_id, ntok,
        |    coalesce(SUM(ntok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
        |  FROM samp)
        |SELECT source, CAST(floor(tok_offset / 256) AS BIGINT) AS chunk,
        |  count(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS chunk_tokens
        |FROM off GROUP BY 1, 2""".stripMargin),

    // ── out-of-vocabulary ratio (language-model-flavored quality
    // filter): vocabulary = the corpus's top-20 tokens by global count
    // (ties broken by token string), each doc scored by the share of
    // its tokens outside that vocabulary. The vocab aggregate is tiny
    // and broadcast; scoring is a per-row membership pass. ──
    QuerySpec("q77_oov_ratio", (s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(20)
        .agg(collect_list(col("token")).as("vocab_unsorted"))
        .select(array_sort(col("vocab_unsorted")).as("vocab"))
      docs
        .withColumn("__toks", TextAnalysis.tokens(col("text")))
        .filter(size(col("__toks")) > 0)
        .crossJoin(vocab)
        .select(col("doc_id"),
          size(col("__toks")).as("n_tokens"),
          size(filter(col("__toks"), t => !array_contains(col("vocab"), t)))
            .as("n_oov"))
        .withColumn("oov_ratio",
          col("n_oov").cast("double") / col("n_tokens").cast("double"))
    },
      // top-20 by (count desc, token) on both sides; the membership test
      // and the integer-ratio division mirror exactly.
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        |  FROM documents),
        |vocab AS (
        |  SELECT token FROM (
        |    SELECT token, count(*) AS cnt FROM tok GROUP BY 1
        |    ORDER BY cnt DESC, token LIMIT 20)),
        |d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents),
        |v AS (SELECT list(token ORDER BY token) AS vl FROM vocab)
        |SELECT doc_id,
        |  len(toks) AS n_tokens,
        |  len(list_filter(toks, t -> NOT list_contains(vl, t))) AS n_oov,
        |  CAST(len(list_filter(toks, t -> NOT list_contains(vl, t))) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS oov_ratio
        |FROM d CROSS JOIN v
        |WHERE len(toks) > 0""".stripMargin),

    // ── vocabulary-rarity quality score: per-doc mean document
    // frequency of its distinct tokens — the integer-exact twin of a
    // "-mean log p" corpus-LM filter (log dropped ⇒ all-BIGINT sums,
    // one final division, cross-engine exact) ──
    QuerySpec("q93_rarity", (s, dir) =>
      graft.ext.TextAnalysis.tokenRarity(t(s, dir, "documents"), "doc_id", "text"),
      // Distinct (doc, token) grain; SUM(df) cast to BIGINT (DuckDB sums
      // BIGINT into HUGEINT, which pandas would float-ify) and ONE final
      // division — no other FP op exists in the query.
      """WITH raw AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        |  FROM documents),
        |tok AS (SELECT DISTINCT doc_id, token FROM raw),
        |dfreq AS (SELECT token, count(*) AS df FROM tok GROUP BY 1)
        |SELECT doc_id, count(*) AS n_types, CAST(sum(df) AS BIGINT) AS sum_df,
        |  CAST(CAST(sum(df) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_df
        |FROM tok JOIN dfreq USING (token)
        |GROUP BY doc_id""".stripMargin),

    // ── duplicate n-gram audit: top-20 5-grams by corpus occurrence
    // count with distinct-doc spread — the boilerplate-vs-repetition
    // diagnostic behind substring-dedup decisions; TakeOrdered, never
    // a global sort ──
    QuerySpec("q105_ngram_hotspots", (s, dir) =>
      graft.ext.TextAnalysis.ngramHotspots(
        t(s, dir, "documents"), "doc_id", "text", n = 5, topK = 20),
      // q92's windowed shingle construction, kept NON-distinct (every
      // occurrence counts) at n=5; count(*) and count(DISTINCT doc_id)
      // are both BIGINT in both engines; ngram is the unique final
      // tiebreak so the LIMIT cut is total-order deterministic.
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS pos
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id,
        |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
        |      || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w AS ngram
        |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok, 4) OVER w IS NOT NULL)
        |SELECT ngram, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
        |FROM ng GROUP BY 1
        |ORDER BY n_occ DESC, ngram LIMIT 20""".stripMargin),

    // ── one BPE induction round: corpus-weighted adjacent char-pair
    // frequencies over the DISTINCT vocabulary (the only corpus-scale
    // shuffle is the token-count aggregate; the pair explode runs on
    // |vocab| rows) ──
    QuerySpec("q106_bpe_pairs", (s, dir) =>
      graft.ext.TextAnalysis.bpePairStats(
        t(s, dir, "documents"), "text", topK = 30),
      // Pair = substr(token, i, 2) over the distinct-vocabulary word
      // counts; sum(wc) cast to BIGINT (DuckDB sums BIGINT into
      // HUGEINT); pair is the unique final tiebreak.
      """WITH raw AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        |  FROM documents),
        |wc AS (SELECT token, count(*) AS wc FROM raw GROUP BY 1),
        |p AS (
        |  SELECT unnest(list_transform(range(1, length(token)),
        |    i -> substr(token, CAST(i AS INT), 2))) AS pair, wc
        |  FROM wc WHERE length(token) >= 2)
        |SELECT pair, CAST(sum(wc) AS BIGINT) AS freq
        |FROM p GROUP BY 1
        |ORDER BY freq DESC, pair LIMIT 30""".stripMargin),

    // ── vocabulary-bounded co-occurrence with integer lift (PMI's
    // engine-exact twin): pair space capped at vocabK², corpus enters
    // only through the linear distinct-(doc,token) aggregate ──
    QuerySpec("q111_cooc_lift", (s, dir) =>
      graft.ext.TextAnalysis.coocLift(
        t(s, dir, "documents"), "doc_id", "text", vocabK = 40, topK = 25),
      // q93's distinct-(doc,token) grain; lift in BIGINT // arithmetic,
      // written with the identical operand order as the Spark expr.
      """WITH raw AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        |  FROM documents),
        |tok AS (SELECT DISTINCT doc_id, token FROM raw),
        |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |vocab AS (
        |  SELECT token, count(*) AS df FROM tok GROUP BY 1
        |  ORDER BY df DESC, token LIMIT 40),
        |vt AS (SELECT t.doc_id, t.token FROM tok t JOIN vocab USING (token)),
        |p AS (
        |  SELECT a.token AS tok_a, b.token AS tok_b, count(*) AS n_ab
        |  FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.token < b.token
        |  GROUP BY 1, 2)
        |SELECT tok_a, tok_b, n_ab, va.df AS df_a, vb.df AS df_b,
        |  (n_ab * n_docs * 1000000) // (va.df * vb.df) AS lift_ppm
        |FROM p JOIN vocab va ON va.token = tok_a
        |  JOIN vocab vb ON vb.token = tok_b CROSS JOIN nd
        |ORDER BY n_ab DESC, tok_a, tok_b LIMIT 25""".stripMargin),

    // ── declarative data-quality rules: N expectations in ONE
    // aggregate over one scan, integer-ppm pass rates ──
    QuerySpec("q118_quality_rules", (s, dir) =>
      graft.operators.Quality.ruleReport(t(s, dir, "orders"), Seq(
        "price_positive" -> (col("o_totalprice") > 0),
        "custkey_present" -> col("o_custkey").isNotNull,
        "status_domain" -> col("o_orderstatus").isin("O", "F", "P"),
        "priority_format" -> col("o_orderpriority").rlike("^[1-5]-")),
        minPassPpm = 990000L),
      // One conditional-sum block per rule; ppm = integer // — null
      // predicates count as failures via the CASE WHEN TRUE form.
      """WITH w AS (
        |  SELECT count(*) AS n_rows,
        |    CAST(sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS BIGINT) AS r0,
        |    CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS r1,
        |    CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS r2,
        |    CAST(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT) AS r3
        |  FROM orders)
        |SELECT rule, n_pass, n_rows, n_pass * 1000000 // n_rows AS pass_ppm,
        |  (n_pass * 1000000 // n_rows) >= 990000 AS ok
        |FROM (
        |  SELECT 'price_positive' AS rule, r0 AS n_pass, n_rows FROM w
        |  UNION ALL SELECT 'custkey_present', r1, n_rows FROM w
        |  UNION ALL SELECT 'status_domain', r2, n_rows FROM w
        |  UNION ALL SELECT 'priority_format', r3, n_rows FROM w)""".stripMargin),

    // ── tokenizer vocabulary: corpus token counts ≥ minCount with
    // contiguous frequency-ranked ids; the global sort runs on the
    // post-threshold vocab only, never the corpus ──
    QuerySpec("q135_vocab", (s, dir) =>
      graft.ext.TextAnalysis.buildVocab(
        t(s, dir, "documents"), "text", minCount = 40L),
      // Vocabulary: token counts >= 40 with contiguous ids in
      // (cnt desc, token) total order.
      """WITH tok AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
        |  FROM documents),
        |c AS (
        |  SELECT token, count(*) AS cnt FROM tok GROUP BY 1
        |  HAVING count(*) >= 40)
        |SELECT token, cnt,
        |  row_number() OVER (ORDER BY cnt DESC, token) - 1 AS token_id
        |FROM c""".stripMargin),

    // ── inverted index: per token df / tf / canonical posting-list
    // string, df-capped (the stop-token guard). Indexed over a 50-doc
    // slice: the synthetic corpus has a ~31-token vocabulary where
    // every token is a stop-token at full scale (df ≈ n_docs), so the
    // slice is what gives the df band real members ──
    QuerySpec("q147_inverted_index", (s, dir) =>
      graft.ext.TextAnalysis.invertedIndex(
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
        "doc_id", "text", minDf = 5L, maxDf = 50L),
      // Positions via unnest(range(len)) — 0-based like posexplode; the
      // posting string is canonical (doc_id, pos) order both sides.
      """WITH d AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents WHERE doc_id % 10 = 0),
        |p AS (
        |  SELECT doc_id, toks[i + 1] AS token, i AS pos
        |  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM d)),
        |g AS (
        |  SELECT token, count(DISTINCT doc_id) AS df, count(*) AS tf_total,
        |    string_agg(concat(CAST(doc_id AS VARCHAR), ':',
        |      CAST(pos AS VARCHAR)), ',' ORDER BY doc_id, pos) AS postings
        |  FROM p GROUP BY 1)
        |SELECT token, df, tf_total, postings FROM g
        |WHERE df BETWEEN 5 AND 50""".stripMargin),

    // ── packing-efficiency report over q61's packer: per source,
    // chunks / tokens / signed slack ppm (negative = docs overflowed
    // the budget — the packer's documented offset-div semantics) ──
    QuerySpec("q156_pack_stats", (s, dir) => {
      val chunks = TextAnalysis.packSequences(
          t(s, dir, "documents").withColumn("__nt",
            size(TextAnalysis.tokens(col("text"))).cast("long")),
          "source", "doc_id", col("__nt"), budget = 256L)
        .groupBy("source", "chunk")
        .agg(sum(col("n_tok")).as("chunk_tokens"))
      chunks.groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("chunk_tokens")).as("total_tokens"))
        .withColumn("slack_ppm",
          expr("((n_chunks * 256 - total_tokens) * 1000000) div (n_chunks * 256)"))
    },
      // The q61 packing CTE rolled up to source grain; slack is signed
      // (overfull chunks make it negative).
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |o AS (
        |  SELECT source, doc_id, n_tok,
        |    coalesce(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
        |  FROM d),
        |c AS (
        |  SELECT source, CAST(floor(tok_offset / 256) AS BIGINT) AS chunk,
        |    CAST(SUM(n_tok) AS BIGINT) AS chunk_tokens
        |  FROM o GROUP BY 1, 2),
        |g AS (
        |  SELECT source, count(*) AS n_chunks,
        |    CAST(sum(chunk_tokens) AS BIGINT) AS total_tokens
        |  FROM c GROUP BY 1)
        |SELECT source, n_chunks, total_tokens,
        |  ((n_chunks * 256 - total_tokens) * 1000000) // (n_chunks * 256)
        |    AS slack_ppm
        |FROM g""".stripMargin),

    // ── repetition-burden report: q173's spans composed with per-doc
    // token counts into the per-source operational rollup (which
    // sources ship boilerplate, and how much of their token mass is
    // repeated). covered_ppm is all-integer (·1e6 div). Docs without
    // spans count with 0 covered tokens via the left join. ──
    QuerySpec("q176_repetition_burden", (s, dir) => {
      val docs = t(s, dir, "documents")
      val perDoc = Dedup.repeatedSpans(docs, "doc_id", "text", n = 8, minDf = 2)
        .groupBy("doc_id")
        .agg(sum(col("span_end") - col("span_start") + 1).as("__cov"))
      docs.select(col("doc_id"), col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("__ntok"))
        .join(perDoc, Seq("doc_id"), "left")
        .na.fill(0L, Seq("__cov"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__cov") > 0, 1L).otherwise(0L)).as("docs_with_spans"),
          sum(col("__ntok")).as("total_tokens"),
          sum(col("__cov")).as("covered_tokens"))
        .withColumn("covered_ppm",
          expr("covered_tokens * 1000000 div total_tokens"))
    },
      // q173's span CTEs + per-doc token counts; covered_ppm via integer
      // // division. SUMs cast to BIGINT (DuckDB HUGEINT).
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
        |  sum(flag) OVER (PARTITION BY doc_id ORDER BY s, e
        |    ROWS UNBOUNDED PRECEDING) AS span_seq
        |  FROM f),
        |spans AS (SELECT doc_id, span_seq, min(s) AS ss, max(e) AS se FROM g2 GROUP BY 1, 2),
        |cov AS (SELECT doc_id, SUM(se - ss + 1) AS cv FROM spans GROUP BY 1),
        |ntok AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY 1),
        |d AS (
        |  SELECT doc.source, COALESCE(ntok.nt, 0) AS nt, COALESCE(cov.cv, 0) AS cv
        |  FROM documents doc
        |  LEFT JOIN ntok ON ntok.doc_id = doc.doc_id
        |  LEFT JOIN cov ON cov.doc_id = doc.doc_id)
        |SELECT source, count(*) AS n_docs,
        |  CAST(SUM(CASE WHEN cv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_spans,
        |  CAST(SUM(nt) AS BIGINT) AS total_tokens,
        |  CAST(SUM(cv) AS BIGINT) AS covered_tokens,
        |  CAST(SUM(cv) AS BIGINT) * 1000000 // CAST(SUM(nt) AS BIGINT) AS covered_ppm
        |FROM d GROUP BY 1""".stripMargin)
  )
}
