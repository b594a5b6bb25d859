package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Corpus

/** Helpers that more than one family uses: the table reader, the
  * fixtures root, and the fixtures and oracle fragments that specs in
  * different families share. A helper that one family uses lives in
  * that family's object.
  */
object Shared {

  private[catalog] def t(s: SparkSession, dir: String, name: String): DataFrame =
    Corpus.load(s, dir, name)

  /** Hostile-HTML fixture for q226/q227: every `documents` row wrapped
    * in a page whose structure varies by doc_id residues across the
    * attack surface HtmlExtract claims to survive — script bodies
    * containing '<'/'>'/quotes (%4=0), style with a '>' selector
    * (%4=1), a comment hiding tags (%4=2), an UNCLOSED trailing script
    * (%4=3), an entity run (%6=0), and a truncated-fetch unclosed tag
    * at EOS (%9=0). The oracle rebuilds the identical strings with the
    * same CASE chains and runs the identical RE2 extraction.
    */
  private[catalog] def htmlFixture(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    docs.select(id, concat(
      lit("<!DOCTYPE html><html><head><title>Doc "), id.cast("string"),
      lit("</title>"),
      when(id % 4 === 0,
        lit("<script type=\"text/javascript\">if(a<b){x=\"</div>y\";}</script>"))
        .when(id % 4 === 1, lit("<style>p > a { content: \"<q>\"; }</style>"))
        .otherwise(lit("")),
      lit("</head><body>"),
      when(id % 4 === 2, lit("<!-- nav <ul><li>home</li></ul> -->"))
        .otherwise(lit("")),
      lit("<div class=\"main\"><p>"), col("text"), lit("</p>"),
      when(id % 6 === 0, lit("<p>&lt;cite&gt;&nbsp;&amp; more&#39;</p>"))
        .otherwise(lit("")),
      // numeric character references (round 13): decimal, hex (mixed
      // case), the amp-last trap (&#38;lt; must yield literal '&lt;'),
      // and a named-set addition (&hellip;)
      when(id % 10 === 7,
        lit("<p>&#8220;Q&#8221; &#8212; it&#x2019;s &#38;lt;ok&#x3E;&#160;fine&hellip;</p>"))
        .otherwise(lit("")),
      lit("</div></body></html>"),
      when(id % 9 === 0, lit("<a href=\"trunc")).otherwise(lit("")),
      when(id % 4 === 3, lit("<script>tail();")).otherwise(lit("")))
      .as("html"))
  }

  /** q308/q311 SHARED inflate cap for the fetch-decode fixture: ok-arm
    * payloads top out at 647 bytes and the %14=13 bomb arm at ≥ 2200
    * (repeat×50 of the ≥44-byte min text) at every SF — both margins
    * hold, so the cap splits the arms identically everywhere.
    */
  private[catalog] val FetchMaxBytes = 2000

  /** q308/q311 SHARED fetch-decode fixture (the htmlFixture rule — one
    * builder so the batch query and its streaming twin cannot drift):
    * (doc_id, raw) HTTP response records as REAL bytes. Arms
    * (doc_id % 14): 0 undeclared utf-8, 1 gzip + header cp1252 (é AND
    * €), 2 zlib deflate + META-sniffed shift_jis, 3 BOM beating a
    * LYING shift_jis header, 4 undeclared cp1252 (lenient fallback),
    * 5 WRONG utf-8 declaration over cp1252 bytes (lenient U+FFFD), 6
    * 404, 7 wrong media type, 8 unsupported CE (br), 9 chunked TE, 10
    * corrupt gzip, 11 unsupported declared charset, 12 no status line,
    * 13 gzip bomb vs [[FetchMaxBytes]].
    *
    * ASCII DEPENDENCE (shared with q307/q312/q317/q318, like the q293
    * band-miss note): the closed-form oracles assume documents.text is
    * pure ASCII — an unmappable character would NULL the in-plan
    * encode (routing 'malformed' where the oracle says 'ok'), and the
    * arm-5 mirror (`text || chr(65533) || '!'`) assumes the text mints
    * no extra U+FFFDs. Verified 0 non-ASCII docs at every shipped SF;
    * guarded TWICE (round 17): FetchDecodeSpec's shipped-SF scan, and
    * an in-plan `raise_error` at fixture-BUILD time below — a corpus
    * retune that plants non-ASCII text fails the very first Verify
    * run with a doc_id-bearing message instead of silently
    * hash-mismatching four queries.
    */
  private[graft] def fetchFixture(docs: DataFrame): DataFrame = {
    import graft.ext.FetchDecode
    import graft.plans.{Inflate, Transcode}
    val id = col("doc_id")
    val a = id % 14
    def mkHead(lines: String*) = lit(lines.mkString("", "\r\n", "\r\n\r\n"))
    val okHtml = mkHead("HTTP/1.1 200 OK", "Content-Type: text/html")
    val gzHead = mkHead("HTTP/1.1 200 OK", "Content-Type: text/html",
      "Content-Encoding: gzip")
    val sfx1252 = concat(col("text"), lit(" caf\u00E9 \u20AC9"))
    val html2 = concat(
      lit("<html><head><meta charset=shift_jis></head><body>"),
      col("text"), lit(" \u30AB\u30D5\u30A7</body></html>"))
    val headCol =
      when(a === 1, mkHead("HTTP/1.1 200 OK",
        "Content-Type: text/html; charset=windows-1252",
        "Content-Encoding: gzip"))
        .when(a === 2, mkHead("HTTP/1.1 200 OK",
          "Content-Type: text/html", "Content-Encoding: deflate"))
        .when(a === 3, mkHead("HTTP/1.1 200 OK",
          "Content-Type: text/html; charset=shift_jis"))
        .when(a === 5, mkHead("HTTP/1.1 200 OK",
          "Content-Type: text/html; charset=utf-8"))
        .when(a === 6, mkHead("HTTP/1.1 404 Not Found",
          "Content-Type: text/html"))
        .when(a === 7, mkHead("HTTP/1.1 200 OK",
          "Content-Type: application/json"))
        .when(a === 8, mkHead("HTTP/1.1 200 OK",
          "Content-Type: text/html", "Content-Encoding: br"))
        .when(a === 9, mkHead("HTTP/1.1 200 OK",
          "Content-Type: text/html", "Transfer-Encoding: chunked"))
        .when(a === 10 || a === 13, gzHead)
        .when(a === 11, mkHead("HTTP/1.1 200 OK",
          "Content-Type: text/html; charset=utf-7"))
        .otherwise(okHtml)
    val bom = to_binary(lit("efbbbf"), lit("hex"))
    val body =
      when(a === 1,
        Inflate.gzipCompress(Transcode.encode(sfx1252,
          lit("windows-1252"))))
        .when(a === 2,
          Inflate.zlibCompress(Transcode.encode(html2, lit("shift_jis"))))
        .when(a === 3, concat(bom,
          concat(col("text"), lit(" caf\u00E9")).cast("binary")))
        .when(a === 4, Transcode.encode(
          concat(col("text"), lit(" caf\u00E9")), lit("windows-1252")))
        .when(a === 5, Transcode.encode(
          concat(col("text"), lit(" caf\u00E9!")), lit("windows-1252")))
        .when(a === 10, lit("junkjunk").cast("binary"))
        .when(a === 13,
          Inflate.gzipCompress(repeat(col("text"), 50).cast("binary")))
        .otherwise(col("text").cast("binary"))
    val raw = when(a === 12, col("text").cast("binary"))
      .otherwise(FetchDecode.responseRecord(headCol, body))
    docs.select(id, when(asciiGuard("fetchFixture", id).isNull, raw).as("raw"))
  }

  /** The fetch-family ASCII-dependence guard (round 17), evaluated
    * per row at fixture-BUILD time: NULL (a no-op inside
    * `when(guard.isNull, value)`) while `text` is pure ASCII, a
    * loud doc_id-bearing `raise_error` the moment a corpus retune
    * plants a non-ASCII doc — instead of a legacy-charset encode
    * NULLing in-plan and silently hash-mismatching the closed-form
    * q307/q308/q311/q312/q317/q318 oracles. One definition, applied
    * at every builder of the family.
    */
  private[catalog] def asciiGuard(site: String, id: Column): Column =
    when(col("text").rlike("[^\\x00-\\x7F]"),
      raise_error(concat(
        lit(s"$site: non-ASCII documents.text at doc_id="),
        id.cast("string"),
        lit(" — the fetch-family closed-form oracles require ASCII " +
          "fixture text (see fetchFixture scaladoc)"))))

  /** The re-ingested dup-slice fixture arm shared by q103/q189/q225:
    * the %13 slice of `documents` re-appears under +1000000 ids — the
    * "corpus v2 with re-crawled mass" shape the diff/refresh/card
    * queries all document. ONE Scala site to keep in lockstep with
    * the three oracle-SQL mirrors.
    */
  private[catalog] def dupSliceArm(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 13 === 0)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))

  /** Reference-domain fixtures (FIXTURES.md §A), authored in-repo so the
    * DuckDB oracle can read the identical files. Resolved against the
    * working directory, which is the checkout root under sbt's forked
    * `run`/`test` and under perfbench; the oracle SQL interpolates it.
    */
  val FixturesDir: String =
    java.nio.file.Paths.get("fixtures").toAbsolutePath.toString

  /** q55's full-corpus clustering truth: exact-Jaccard(3-shingles)
    * >= 0.8 pairs -> recursive-CTE connected components -> min-id
    * cluster labels. Shared verbatim by q55 (one-shot clustering) and
    * q186 (incremental fold) - the incremental path is certified
    * against the SAME truth as the full recompute.
    */
  private[catalog] val FullDedupClustersSql: String =
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
        |  count(*) OVER (PARTITION BY cluster) AS cluster_size,
        |  doc_id = cluster AS is_representative
        |FROM assigned""".stripMargin
}
