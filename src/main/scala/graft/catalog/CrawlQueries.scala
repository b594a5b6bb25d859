package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, TextAnalysis}

import Shared._

/** The crawl frontier and web pages: URL canonicalization, robots,
  * politeness, link graphs, HTML extraction, HTTP parsing, recrawl
  * policy, and the intake capstones that chain them.
  */
object CrawlQueries {

  /** Deterministic messy-URL fixture for q213-q215: every `documents`
    * row gets one raw fetch URL with case/default-port/query-order/
    * trailing-slash/fragment variation driven by doc_id residues, plus
    * a non-URL arm (doc_id %17) that must canonicalize to NULL. The
    * oracle rebuilds the identical strings with the same CASE chains.
    */
  private def urlFixture(docs: DataFrame): DataFrame = {
    val url0 = concat(
      when(col("doc_id") % 3 === 0, lit("HTTP"))
        .when(col("doc_id") % 3 === 1, lit("https")).otherwise(lit("http")),
      lit("://"),
      when(col("doc_id") % 2 === 0, concat(lit("WWW."), upper(col("source"))))
        .otherwise(concat(lit("www."), col("source"))),
      lit(".Example.COM"),
      when(col("doc_id") % 5 === 0, lit(":80"))
        .when(col("doc_id") % 5 === 1, lit(":443"))
        .when(col("doc_id") % 5 === 2, lit(":8080")).otherwise(lit("")),
      lit("/Docs/"), (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 7 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 4 === 0, lit("?b=2&a=1"))
        .when(col("doc_id") % 4 === 1, lit("?a=1&b=2")).otherwise(lit("")),
      when(col("doc_id") % 13 === 0, lit("#Frag")).otherwise(lit("")))
    docs.select(col("doc_id"), col("n_chars"),
      when(col("doc_id") % 17 === 0, concat(lit("not a url "), url0))
        .otherwise(url0).as("url"))
  }

  /** The q223/q229 robots policy fixture — ONE Scala site so the
    * composed politeness capstone cannot drift from the compliance
    * stage it composes: 20 hosts × ('/': allow, '/Docs/<i%7>': deny,
    * '/Docs/<i%7>7': allow-override beneath it — precedence three
    * levels deep).
    */
  private def robotsRulesFixture(s: SparkSession): DataFrame =
    s.range(0, 20).selectExpr(
      "concat('www.src', CAST(id AS STRING), '.example.com') AS host",
      "inline(array(" +
        "struct('/' AS prefix, true AS allow), " +
        "struct(concat('/Docs/', CAST(id % 7 AS STRING)) AS prefix, false AS allow), " +
        "struct(concat('/Docs/', CAST(id % 7 AS STRING), '7') AS prefix, true AS allow)))")

  /** q246/q256 shared fetch-history fixture: five revisit rounds per
    * URL with fingerprints flipping every `period = 1 + doc_id%4`
    * rounds (%5=0 urls never change) — each url's change count is
    * closed-form in its residues, mirrored in the q246 oracle the
    * streaming twin reuses verbatim.
    */
  private def recrawlFixture(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(sequence(lit(1), lit(5))).as("r"))
    .select(
      concat(lit("http://www.src"), (col("doc_id") % 20).cast("string"),
        lit(".example.com/Docs/"), col("doc_id").cast("string")).as("url"),
      col("r").cast("long").as("r"),
      when(col("doc_id") % 5 === 0, lit("0"))
        .otherwise(expr("CAST(r DIV (1 + doc_id % 4) AS STRING)"))
        .as("fp"))

  /** q253/q257 shared response-header fixture (doc_id → raw): six
    * RFC 9111 arms — max-age arithmetic, no-store beating max-age
    * (plus a junk `Expires: 0`), no-cache, Expires−Date as pure HH:MM
    * arithmetic, a PAST Expires, the 10% heuristic, and a header-bare
    * 404. Every mode and TTL closed-form in the residues.
    */
  private def cacheRawFixture(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val hh = lpad((id % 10).cast("string"), 2, "0")
    val mm = (lit(10) + id % 50).cast("string")
    val h2 = lpad((id % 24).cast("string"), 2, "0")
    val armHeaders = when(id % 6 === 0,
        concat(lit("\r\nCache-Control: public, max-age="),
          ((id % 97) * 10).cast("string")))
      .when(id % 6 === 1,
        lit("\r\nCache-Control: no-store, max-age=600\r\nExpires: 0"))
      .when(id % 6 === 2, lit("\r\nCache-Control: private, no-cache"))
      .when(id % 12 === 3, concat(lit("\r\nExpires: Mon, 12 Jan 2026 "),
        hh, lit(":"), mm, lit(":00 GMT")))
      .when(id % 12 === 9,
        lit("\r\nExpires: Sun, 11 Jan 2026 23:59:00 GMT"))
      .otherwise(concat(lit("\r\nLast-Modified: Sun, 11 Jan 2026 "),
        h2, lit(":00:00 GMT")))
    val raw = when(id % 6 === 5,
        lit("HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\ngone"))
      .otherwise(concat(
        lit("HTTP/1.1 200 OK\r\nDate: Mon, 12 Jan 2026 00:00:00 GMT"),
        armHeaders, lit("\r\nContent-Type: text/html\r\n\r\n<p>ok</p>")))
    docs.select(id, raw.as("raw"))
  }

  /** Raw HTTP-response fixture shared by q236 (batch parse) and q248
    * (streaming twin): status/content-type/transfer-encoding/separator
    * arms keyed on doc_id residues — 404s, PDFs, LF-only separators
    * (malformed), no status line (malformed), mixed-case Content-Type,
    * charset present and absent, and a chunked Transfer-Encoding arm
    * that must route bad_encoding. Mirrored in [[HttpParseSql]]'s rawr
    * CTE.
    */
  private def httpRawFixture(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val statusLine = when(id % 7 === 1, lit("HTTP/1.1 404 Not Found"))
      .when(id % 7 === 5, lit("GARBAGE"))
      .otherwise(lit("HTTP/1.1 200 OK"))
    // the %2=0 arm uses the RFC 9110 QUOTED parameter form — the
    // charset must still extract (round-15 review fix: the bare-token
    // regex silently dropped quoted declarations)
    val ctype = when(id % 7 === 2, lit("application/pdf"))
      .when(id % 2 === 0, lit("text/html; charset=\"utf-8\""))
      .otherwise(lit("Text/HTML"))
    val teLine = when(id % 7 === 4, lit("\r\nTransfer-Encoding: Chunked"))
      .otherwise(lit(""))
    val sep = when(id % 7 === 3, lit("\n\n")).otherwise(lit("\r\n\r\n"))
    val raw = concat(statusLine,
      lit("\r\nServer: graft"), teLine, lit("\r\nContent-Type: "), ctype, sep,
      lit("<html><body><p>"), col("text"), lit("</p></body></html>"))
    docs.select(id, raw.as("raw"))
  }

  /** robots.txt BODY fixture (q239/q240): the 20 urlFixture hosts;
    * every host's `*`+backupbot group carries EXACTLY
    * [[robotsRulesFixture]]'s three rules (so the parsed table is
    * q223's, arithmetic), plus an `otherbot` group that must never
    * apply, a rule-line comment, an empty `Disallow:` no-op, and
    * Crawl-delay/Sitemap member lines; %4=0 hosts prepend a SPECIFIC
    * `GraftBot` group (mixed-case UA — specific beats `*` per RFC
    * 9309) and %3=1 hosts are CRLF files.
    */
  private def robotsBodiesFixture(s: SparkSession): DataFrame = {
    val i = col("id")
    val lf = lit("\n")
    val body = concat(
      lit("# robots for src"), i.cast("string"), lf,
      when(i % 4 === 0, concat(
        lit("User-Agent: GraftBot"), lf,
        lit("Disallow: /private/"), (i % 3).cast("string"), lf,
        lit("Allow: /private/"), (i % 3).cast("string"), lit("/pub"), lf,
        lf)).otherwise(lit("")),
      lit("User-agent: *"), lf,
      lit("User-agent: backupbot"), lf,
      lit("Allow: /"), lf,
      lit("Allow: /Docs/"), (i % 7).cast("string"), lit("7"), lf,
      lit("Disallow: /Docs/"), (i % 7).cast("string"),
      lit("  # deny subtree"), lf,
      lit("Disallow:"), lf,
      lit("Crawl-delay: "), (lit(2) + i % 7).cast("string"), lf,
      lit("Sitemap: http://www.src"), i.cast("string"),
      lit(".example.com/s.xml"), lf, lf,
      lit("User-agent: otherbot"), lf,
      lit("Disallow: /"), lf)
    s.range(0, 20).select(
      concat(lit("www.src"), i.cast("string"), lit(".example.com")).as("host"),
      when(i % 3 === 1, regexp_replace(body, "\n", "\r\n"))
        .otherwise(body).as("body"))
  }

  /** Messy URL for an arbitrary id EXPRESSION (q219/q220's link
    * targets) — urlFixture's spelling variants with the source name
    * derived arithmetically (`source` == 'src' || id%20 in the corpus,
    * certified by the q214 host set), so a link target needs no join.
    */
  private def messyUrl(id: Column): Column = concat(
    when(id % 3 === 0, lit("HTTP"))
      .when(id % 3 === 1, lit("https")).otherwise(lit("http")),
    lit("://"),
    when(id % 2 === 0, concat(lit("WWW.SRC"), (id % 20).cast("string")))
      .otherwise(concat(lit("www.src"), (id % 20).cast("string"))),
    lit(".Example.COM"),
    when(id % 5 === 0, lit(":80")).when(id % 5 === 1, lit(":443"))
      .when(id % 5 === 2, lit(":8080")).otherwise(lit("")),
    lit("/Docs/"), (id % 50).cast("string"),
    when(id % 7 === 0, lit("/")).otherwise(lit("")),
    when(id % 4 === 0, lit("?b=2&a=1"))
      .when(id % 4 === 1, lit("?a=1&b=2")).otherwise(lit("")))

  /** Canonical-host link edges extracted from a synthesized HTML-ish
    * corpus — now with RELATIVE hrefs live (the round-12 verdict's top
    * gap): every doc links an ABSOLUTE messy URL of one formula target
    * and a SCHEME-RELATIVE (`//host/…`) spelling of a second — the
    * cross-host reference class that real pages use constantly and
    * that a resolve-less pipeline silently drops — plus (doc %11=3) a
    * same-host `../` reference (resolves, then falls to the self-loop
    * filter: host graphs don't key same-page navigation) and (doc
    * %9=0) a `javascript:` junk href that must drop through the
    * NULL-canonical quarantine route. Every href goes through
    * [[graft.ext.UrlCanon.resolveUrl]] against the page's own URL
    * before canonicalization — the real crawl shape. Takes the docs
    * slice so the incremental variant (q221) can fold per-batch edge
    * states. Shared by q219/q220/q221.
    */
  private def linkEdges(docs0: DataFrame): DataFrame = {
    import graft.ext.UrlCanon
    // resolveUrl per href is a ~30-regex-pass chain — CPU-bound per
    // row, and the local corpus is ONE parquet split; spread first
    // (the Dedup/SimHash repartition discipline)
    val docs = docs0.repartition(32, col("doc_id"))
    val html = docs.select(col("doc_id"),
      concat(lit("<html><body><p>Doc "), col("doc_id").cast("string"),
        // quadratic targets: a LINEAR formula is a bijection mod 20
        // (gcd(7,20)=1), which makes every host 2-in/2-out regular and
        // PageRank vacuously uniform; squares concentrate residues, so
        // hub hosts emerge and the ranks spread (checked non-vacuous)
        lit("</p><a href=\""),
        messyUrl(col("doc_id") * (col("doc_id") + 3) + 1),
        lit("\">a</a> <a href=\""),
        regexp_replace(messyUrl(col("doc_id") * (col("doc_id") + 7) + 5),
          "^[A-Za-z][A-Za-z0-9+.-]*:", ""),
        lit("\">b</a>"),
        when(col("doc_id") % 11 === 3,
          lit(" <a href=\"../About/team\">c</a>")).otherwise(lit("")),
        when(col("doc_id") % 9 === 0,
          lit(" <a href=\"javascript:void(0)\">junk</a>")).otherwise(lit("")),
        lit("</body></html>")).as("html"))
    // explode_OUTER twice (the q222 Generate-barrier discipline): the
    // href extraction AND the resolveUrl projection each sit behind a
    // Generate so the null filter below can neither re-inline the
    // resolution chain nor push beneath the extraction
    html.select(col("doc_id"),
        explode_outer(expr("""regexp_extract_all(html, 'href="([^"]*)"', 1)"""))
          .as("href"))
      .select(col("doc_id"),
        explode_outer(array(UrlCanon.resolveUrl(
          messyUrl(col("doc_id")), col("href")))).as("abs_url"))
      .filter(UrlCanon.canonicalUrl(col("abs_url")).isNotNull)
      .select(UrlCanon.canonicalHost(messyUrl(col("doc_id"))).as("src_host"),
        UrlCanon.canonicalHost(col("abs_url")).as("dst_host"))
      .filter(col("src_host") =!= col("dst_host"))
  }

  /** The %11=5 wrong-language garble (q234): fifteen Spanish
    * function-word tokens prepended to the page text — enough to
    * out-score the corpus's English hits decisively (typical docs
    * carry well under ten en-profile hits), few enough that the LM's
    * OOV-pair share stays far under the 500000 ppm flag, so ONLY the
    * language gate can catch these pages. ONE Scala site, interpolated
    * into the oracle mirror verbatim.
    */
  private val EsGarble =
    "el la de que y los las por con una el la de que y "

  /** The q318/q330 shared bytes-grade intake chain — contract in the
    * two specs. `damageGate = true` arms q309's encodingDamage
    * quarantine: arm 10 becomes the utf-8-bytes-declared-cp1252
    * double-encode probe, damaged rows rank `encoding_damage` (after
    * fetch classes, before the language gate) and are excluded from
    * the dedup scope. ONE definition so the certified q318 oracle
    * also pins the gated chain's shared stages (the q186 discipline).
    */
  private def bytesIntakeChain(s: SparkSession, dir: String,
      damageGate: Boolean): DataFrame = {
      import graft.ext.{Dedup, FetchDecode, HtmlExtract, UrlCanon, WarcRecord}
      import graft.plans.{Inflate, Transcode}
      val id = col("doc_id")
      val a = id % 12
      val docs0 = t(s, dir, "documents")
      // ── frontier: URL canonicalization + duplicate-URL drop ──
      val dec = UrlCanon.urlDecisions(
          urlFixture(docs0).drop("n_chars"), "url", "doc_id")
        .select("doc_id", "canonical_url", "decision")
        .localCheckpoint() // feeds the dedup scope AND the final table
      // ── the fetched corpus: q312's WARC framing over arm-keyed
      // response bytes (per-row Deflater work is CPU-bound on the
      // single local split — spread first, the q241/q306 rule) ──
      val shared = docs0.filter(id === 1).select(col("text").as("__sh"))
      val base = docs0.select(id,
          when(asciiGuard("bytesIntakeChain", id).isNull, col("text"))
            .as("text"))
        .repartition(32, id)
        // bound: one row, the doc_id = 1 document
        .crossJoin(broadcast(shared))
      val ptext0 =
        when(a === 7, col("__sh"))
          .when(a === 8, concat(lit(EsGarble), col("text")))
          .when(a === 9, reverse(col("text")))
      // damage arm 10: three planted é INSIDE <p> (unlike the comment
      // é, these must SURVIVE extraction to reach the gate)
      val ptext = (if (damageGate)
          ptext0.when(a === 10, concat(col("text"),
            lit(" caf\u00E9 r\u00E9sum\u00E9")))
        else ptext0).otherwise(col("text"))
      val html = concat(
        lit("<html><head><title>Intake</title></head><body>" +
          "<!-- caf\u00E9 --><div class=\"main\"><p>"),
        ptext, lit("</p></div></body></html>"))
      def mkHead(lines: String*) = lit(lines.mkString("", "\r\n", "\r\n\r\n"))
      val okHead = mkHead("HTTP/1.1 200 OK",
        "Content-Type: text/html; charset=windows-1252",
        "Content-Encoding: gzip")
      val headC =
        when(a === 2, mkHead("HTTP/1.1 404 Not Found",
          "Content-Type: text/html"))
          .when(a === 3, mkHead("HTTP/1.1 200 OK",
            "Content-Type: text/html", "Transfer-Encoding: chunked"))
          .when(a === 4, mkHead("HTTP/1.1 200 OK",
            "Content-Type: application/json"))
          .when(a === 6, mkHead("HTTP/1.1 200 OK",
            "Content-Type: text/html; charset=utf-7"))
          .otherwise(okHead)
      val body =
        when(a === 5, lit("junkjunk").cast("binary"))
          .when(a === 2 || a === 3 || a === 4 || a === 6,
            col("text").cast("binary"))
          .otherwise(Inflate.gzipCompress(Transcode.encode(html,
            // damage arm 10: UTF-8 bytes under the cp1252 declaration
            // — the lenient decode leg turns every é into Ã©
            if (damageGate) when(a === 10, lit("utf-8"))
              .otherwise(lit("windows-1252"))
            else lit("windows-1252"))))
      // arm 1: no status line at all — bare text bytes; every other
      // arm is head + latin-1-bridged body (the q312 bridge rule)
      val recStr = when(a === 1, col("text"))
        .otherwise(concat(headC, decode(body, "ISO-8859-1")))
      val member = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\n" +
          "WARC-Target-URI: http://ex.com/"),
        id.cast("string"),
        lit("\r\nContent-Length: "), length(recStr).cast("string"),
        lit("\r\n\r\n"), recStr, lit("\r\n\r\n"))
      val archives = base
        .select(expr("CAST(doc_id DIV 8 AS BIGINT)").as("archive_id"),
          struct(id, member.as("m")).as("sm"))
        .groupBy("archive_id")
        .agg(concat_ws("", transform(array_sort(collect_list(col("sm"))),
          x => x.getField("m"))).as("blob"))
      val recs = WarcRecord.splitRecords(archives, "archive_id", "blob")
        .select(regexp_extract(col("target_uri"), "/([0-9]+)$", 1)
          .cast("long").as("doc_id"),
          encode(col("payload"), "ISO-8859-1").as("raw"))
      val fetched = FetchDecode.decodeResponses(recs, "doc_id", "raw",
          maxBytes = FetchMaxBytes)
        .select(id, col("decision").as("__fd"), col("text").as("__ftext"))
        .localCheckpoint() // feeds extraction AND the final table
      // ── content stages over fetch-ok rows ──
      val ext = fetched.filter(col("__fd") === "ok")
        .select(id, HtmlExtract.mainText(col("__ftext")).as("text"))
        .localCheckpoint() // feeds lang gate, LM scorer AND dedup
      // lang / dmg / lm each feed TWO consumers (the dedup-scope
      // pre-filter AND the final decision table) — left lazy, each
      // re-ran its scoring pipeline per consumer, lm's even rebuilding
      // the bigram model aggregation twice (the q69 multi-consumer
      // discipline; round-19 optimization)
      val lang = TextAnalysis.withLangGuess(ext, "text", "__lang")
        .select(id, col("__lang"))
        .localCheckpoint()
      // the mojibake gate (q309's detector, LIVE on the extracted
      // text — cheap regex counts over the checkpointed ext)
      val dmg = if (damageGate)
        TextAnalysis.encodingDamage(ext, "doc_id", "text")
          .select(id, col("verdict").as("__dmg"))
          .localCheckpoint()
      else null
      val (lmc2, lmc1) = TextAnalysis.lmModel(
        docs0.filter(id % 5 =!= 0), "text")
      val lm = TextAnalysis.lmScoreWith(lmc2, lmc1, ext, "doc_id", "text")
        .select(id, col("flag").as("__lmflag"))
        .localCheckpoint()
      // ── exact content dedup over the survivors of every earlier
      // gate (real pipeline order: dedup what you would otherwise
      // keep; the shuffle key is the extracted text — at corpus scale
      // swap in dedupExactNormalized's xxhash64 key, same plan) ──
      val pre0 = dec.filter(col("decision") === "kept").select("doc_id")
        .join(ext, Seq("doc_id"))
        .join(lang, Seq("doc_id"))
        .join(lm, Seq("doc_id"), "left")
        .filter((col("__lang") === "en" || col("__lang") === "und") &&
          coalesce(col("__lmflag"), lit("ok")) =!= "low")
      // damaged rows must never become dedup keepers
      val pre = (if (damageGate)
          pre0.join(dmg, Seq("doc_id")).filter(col("__dmg") === "clean")
            .drop("__dmg")
        else pre0)
        .localCheckpoint() // feeds the keeper draw AND the join-back
      val keep = Dedup.exactDedup(pre, "doc_id", col("text"))
        .select(col("content_hash").as("text"), col("keep_id").as("__keep"))
      val dup = pre.select(id, col("text"))
        .join(keep, Seq("text"))
        .select(id, col("__keep"))
      // ── the one total decision table ──
      val joined0 = dec
        .join(fetched.select(id, col("__fd")), Seq("doc_id"))
      val joined = (if (damageGate) joined0.join(dmg, Seq("doc_id"), "left")
        else joined0)
        .join(lang, Seq("doc_id"), "left")
        .join(lm, Seq("doc_id"), "left")
        .join(dup, Seq("doc_id"), "left")
      val afterFetch =
        when(col("decision") =!= "kept", col("decision"))
          .when(col("__fd") =!= "ok", col("__fd"))
      val afterDamage = if (damageGate)
        afterFetch.when(col("__dmg").isNotNull && col("__dmg") =!= "clean",
          lit("encoding_damage"))
      else afterFetch
      joined.select(id, col("canonical_url"),
        afterDamage
          .when(col("__lang").isNotNull && col("__lang") =!= "en" &&
            col("__lang") =!= "und", lit("wrong_language"))
          .when(col("__lmflag") === "low", lit("low_quality"))
          .when(col("__keep").isNotNull && col("__keep") =!= id,
            lit("dup_content"))
          .otherwise(lit("kept")).as("decision"))
  }

  /** Shared canonicalization chain for q213-q215 — the identical-oracle
    * discipline (one fixture + one canon derivation, three consumers,
    * so the entries cannot drift apart). Mirrors UrlCanon.canonicalUrl
    * step for step with DuckDB's own regex/list functions; RE2-safe
    * patterns only. regexp_replace needs no 'g' flag: '/+$' is
    * end-anchored, at most one match.
    */
  private val UrlCanonChainSql: String =
    """WITH raw0 AS (
      |  SELECT doc_id, n_chars,
      |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTP'
      |          WHEN doc_id % 3 = 1 THEN 'https' ELSE 'http' END
      |     || '://'
      |     || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' || upper(source)
      |             ELSE 'www.' || source END
      |     || '.Example.COM'
      |     || CASE WHEN doc_id % 5 = 0 THEN ':80'
      |             WHEN doc_id % 5 = 1 THEN ':443'
      |             WHEN doc_id % 5 = 2 THEN ':8080' ELSE '' END
      |     || '/Docs/' || CAST(doc_id % 50 AS VARCHAR)
      |     || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END
      |     || CASE WHEN doc_id % 4 = 0 THEN '?b=2&a=1'
      |             WHEN doc_id % 4 = 1 THEN '?a=1&b=2' ELSE '' END
      |     || CASE WHEN doc_id % 13 = 0 THEN '#Frag' ELSE '' END) AS url
      |  FROM documents),
      |raw AS (
      |  SELECT doc_id, n_chars,
      |    CASE WHEN doc_id % 17 = 0 THEN 'not a url ' || url ELSE url END AS url
      |  FROM raw0),
      |parts AS (
      |  SELECT doc_id, n_chars, url,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
      |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
      |      AS rawpath,
      |    regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS query
      |  FROM raw),
      |canon AS (
      |  SELECT doc_id, n_chars, url, auth, rawpath,
      |    CASE WHEN scheme = '' OR auth LIKE '%[%'
      |           OR regexp_extract(auth, '^(?:[^@]*@)?([^:]*)', 1) = ''
      |         THEN NULL ELSE
      |      scheme || '://'
      |      || lower(regexp_extract(auth, '^(?:[^@]*@)?([^:]*)', 1))
      |      || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
      |                OR (scheme = 'https' AND port = '443') THEN ''
      |              ELSE ':' || port END
      |      || CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
      |              ELSE regexp_replace(rawpath, '/+$', '') END
      |      || CASE WHEN query = '' THEN ''
      |              ELSE '?' || array_to_string(list_sort(string_split(query, '&')), '&')
      |         END
      |    END AS canonical_url
      |  FROM (SELECT *, regexp_extract(auth, ':([0-9]+)$', 1) AS port FROM parts))"""
      .stripMargin

  /** q213's full projection — shared with the streaming triage q218. */
  private val UrlCanonSelectSql: String =
    UrlCanonChainSql +
      """
        |SELECT doc_id, url, canonical_url,
        |  CASE WHEN canonical_url IS NULL THEN NULL
        |       ELSE lower(regexp_extract(auth, '^(?:[^@]*@)?([^:]*)', 1))
        |  END AS host
        |FROM canon""".stripMargin

  /** DuckDB mirror of [[messyUrl]] for an id expression. SINGLE-LINE
    * on purpose: these helpers are interpolated into stripMargin
    * templates, where a line-leading `||` operator would lose its
    * first pipe to the margin strip.
    */
  private def messyUrlSql(id: String): String =
    s"(CASE WHEN ($id) % 3 = 0 THEN 'HTTP' WHEN ($id) % 3 = 1 THEN 'https' " +
      s"ELSE 'http' END || '://' || " +
      s"CASE WHEN ($id) % 2 = 0 THEN 'WWW.SRC' || CAST(($id) % 20 AS VARCHAR) " +
      s"ELSE 'www.src' || CAST(($id) % 20 AS VARCHAR) END || '.Example.COM' || " +
      s"CASE WHEN ($id) % 5 = 0 THEN ':80' WHEN ($id) % 5 = 1 THEN ':443' " +
      s"WHEN ($id) % 5 = 2 THEN ':8080' ELSE '' END || " +
      s"'/Docs/' || CAST(($id) % 50 AS VARCHAR) || " +
      s"CASE WHEN ($id) % 7 = 0 THEN '/' ELSE '' END || " +
      s"CASE WHEN ($id) % 4 = 0 THEN '?b=2&a=1' " +
      s"WHEN ($id) % 4 = 1 THEN '?a=1&b=2' ELSE '' END)"

  /** Host from a URL expression — canonicalHost's nested regexes
    * (single-line for the same stripMargin reason).
    */
  private def hostOfSql(url: String): String =
    s"lower(regexp_extract(regexp_extract($url, " +
      "'^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^(?:[^@]*@)?([^:]*)', 1))"

  /** Arithmetic mirrors of [[messyUrl]]'s COMPONENTS for an id
    * expression — the q238 resolution oracle derives href, resolved
    * and canonical forms from residues (independent truth), so it
    * needs each piece of the messy spelling and of its canonical form
    * separately. All single-line (the stripMargin `||` trap).
    */
  private def mScmSql(i: String): String = // canonical (lowercased) scheme
    s"(CASE WHEN ($i) % 3 = 1 THEN 'https' ELSE 'http' END)"

  private def mAuthRawSql(i: String): String = // authority as spelled
    s"((CASE WHEN ($i) % 2 = 0 THEN 'WWW.SRC' ELSE 'www.src' END) || " +
      s"CAST(($i) % 20 AS VARCHAR) || '.Example.COM' || " +
      s"(CASE WHEN ($i) % 5 = 0 THEN ':80' WHEN ($i) % 5 = 1 THEN ':443' " +
      s"WHEN ($i) % 5 = 2 THEN ':8080' ELSE '' END))"

  private def mHostCanSql(i: String): String = // canonical host
    s"('www.src' || CAST(($i) % 20 AS VARCHAR) || '.example.com')"

  /** Canonical port part given the EFFECTIVE scheme expression (the
    * true rule: default ports drop only for their own scheme —
    * https://h:80 and http://h:443 RETAIN the port).
    */
  private def mPortCanSql(i: String, scm: String): String =
    s"(CASE WHEN ($i) % 5 = 2 THEN ':8080' " +
      s"WHEN ($i) % 5 = 0 AND $scm = 'https' THEN ':80' " +
      s"WHEN ($i) % 5 = 1 AND $scm = 'http' THEN ':443' ELSE '' END)"

  private def mPathRawSql(i: String): String = // path as spelled
    s"('/Docs/' || CAST(($i) % 50 AS VARCHAR) || " +
      s"(CASE WHEN ($i) % 7 = 0 THEN '/' ELSE '' END))"

  private def mPathCanSql(i: String): String = // trailing slash dropped
    s"('/Docs/' || CAST(($i) % 50 AS VARCHAR))"

  private def mDirRawSql(i: String): String = // base path's directory
    s"(CASE WHEN ($i) % 7 = 0 THEN '/Docs/' || CAST(($i) % 50 AS VARCHAR) " +
      s"|| '/' ELSE '/Docs/' END)"

  private def mQRawSql(i: String): String = // query as spelled
    s"(CASE WHEN ($i) % 4 = 0 THEN '?b=2&a=1' " +
      s"WHEN ($i) % 4 = 1 THEN '?a=1&b=2' ELSE '' END)"

  private def mQCanSql(i: String): String = // params sorted
    s"(CASE WHEN ($i) % 4 IN (0, 1) THEN '?a=1&b=2' ELSE '' END)"

  /** DuckDB mirror of [[htmlFixture]] over a doc source exposing
    * (doc_id, text) — `from` is the full FROM clause. Emits CTE
    * `h(doc_id, html)`.
    */
  private def htmlFixtureSql(from: String): String =
    s"""h AS (
       |  SELECT doc_id,
       |    '<!DOCTYPE html><html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
       |    || '</title>'
       |    || CASE WHEN doc_id % 4 = 0 THEN '<script type="text/javascript">if(a<b){x="</div>y";}</script>'
       |            WHEN doc_id % 4 = 1 THEN '<style>p > a { content: "<q>"; }</style>' ELSE '' END
       |    || '</head><body>'
       |    || CASE WHEN doc_id % 4 = 2 THEN '<!-- nav <ul><li>home</li></ul> -->' ELSE '' END
       |    || '<div class="main"><p>' || text || '</p>'
       |    || CASE WHEN doc_id % 6 = 0 THEN '<p>&lt;cite&gt;&nbsp;&amp; more&#39;</p>' ELSE '' END
       |    || CASE WHEN doc_id % 10 = 7 THEN '<p>&#8220;Q&#8221; &#8212; it&#x2019;s &#38;lt;ok&#x3E;&#160;fine&hellip;</p>' ELSE '' END
       |    || '</div></body></html>'
       |    || CASE WHEN doc_id % 9 = 0 THEN '<a href="trunc' ELSE '' END
       |    || CASE WHEN doc_id % 4 = 3 THEN '<script>tail();' ELSE '' END AS html
       |  $from)""".stripMargin

  /** DuckDB entity-decode chain GENERATED from
    * [[graft.ext.HtmlExtract.EntityDecodes]] — the one table drives
    * both engines, so the Spark chain and its mirror cannot drift.
    * Replacement chars emit as chr(codepoint) (quote/non-ASCII safe);
    * patterns contain no single quotes or backslashes by
    * construction. Single-line (the stripMargin `||` trap).
    */
  private def entityDecodeSql(expr: String): String =
    graft.ext.HtmlExtract.EntityDecodes.foldLeft(expr) {
      case (acc, (pat, ch)) =>
        require(!pat.contains("'") && !pat.contains("\\"), s"unmirrorable: $pat")
        // chr() renders ONE code point — a multi-char replacement
        // would silently truncate in the mirror while Spark replaces
        // the full string (engine drift); fail at construction instead
        require(ch.codePointCount(0, ch.length) == 1,
          s"replacement must be a single code point: '$ch'")
        s"regexp_replace($acc, '$pat', chr(${ch.codePointAt(0)}), 'g')"
    }

  /** DuckDB mirror of [[graft.ext.HtmlExtract.mainText]] over CTE
    * `h(doc_id, html)` — the identical RE2-safe pass chain, 'g' flag
    * on every regexp_replace (DuckDB replaces first-only by default;
    * Spark replaces all). Emits CTE `ext(doc_id, main_text)`.
    */
  private val HtmlExtractCtesSql: String =
    """hx1 AS (
      |  SELECT doc_id, regexp_replace(html,
      |    '(?is)<script\b[^>]*>.*?</script[ \t\n\x0B\f\r]*>|<style\b[^>]*>.*?</style[ \t\n\x0B\f\r]*>|<!--.*?-->',
      |    ' ', 'g') AS t FROM h),
      |hx2 AS (
      |  SELECT doc_id, regexp_replace(t,
      |    '(?is)<script\b[^>]*>.*|<style\b[^>]*>.*|<!--.*', ' ', 'g')
      |    AS t FROM hx1),
      |hx3 AS (
      |  SELECT doc_id, regexp_replace(t, '<![^>]*>', ' ', 'g') AS t FROM hx2),
      |hx4 AS (
      |  SELECT doc_id, regexp_replace(regexp_replace(t,
      |    '</?[A-Za-z][^>]*>', ' ', 'g'),
      |    '(?s)(?:</?[A-Za-z][^>]*|<![^>]*)\z', ' ', 'g')
      |    AS t FROM hx3),
      |hx5 AS (
      |  SELECT doc_id, __ENT__ AS t FROM hx4),
      |ext AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(t, '[ \t\n\x0B\f\r]+', ' ', 'g')) AS main_text
      |  FROM hx5)""".stripMargin
      .replace("__ENT__", entityDecodeSql("t"))

  /** q226's full select — shared with the streaming replay q232 (the
    * identical-oracle discipline).
    */
  private lazy val HtmlExtractSelectSql: String =
    "WITH " + htmlFixtureSql("FROM documents") + ",\n" + HtmlExtractCtesSql +
      "\nSELECT doc_id, main_text, CAST(length(main_text) AS BIGINT)" +
      " AS n_chars_text FROM ext"

  /** Shared q219/q220/q221 chain — ARITHMETIC since round 13: the
    * edge hosts derive straight from the target formulas' residues
    * (the q237 independent-truth discipline), never from re-running
    * extraction/resolution. This implicitly asserts that the
    * scheme-relative `//host` hrefs RESOLVE into edges (a
    * resolve-less pipeline would halve the graph and mismatch), that
    * the same-host `../` arm falls to the self-loop filter, and that
    * `javascript:` junk quarantines — the Spark side runs the full
    * extract→resolve→canonicalize chain against this truth.
    */
  private val LinkGraphChainSql: String =
    s"""WITH hosts AS (
       |  SELECT ${mHostCanSql("doc_id")} AS src_host,
       |    ${mHostCanSql("doc_id*(doc_id+3)+1")} AS dst1,
       |    ${mHostCanSql("doc_id*(doc_id+7)+5")} AS dst2
       |  FROM documents),
       |edges AS (
       |  SELECT src_host, dst1 AS dst_host FROM hosts
       |  UNION ALL
       |  SELECT src_host, dst2 AS dst_host FROM hosts),
       |e0 AS (SELECT src_host, dst_host FROM edges WHERE src_host <> dst_host)"""
      .stripMargin

  /** q246 + q256 shared recrawl mirror (identical-oracle
    * certification: the streaming fold must equal the batch window).
    */
  private val RecrawlSql: String =
    """SELECT 'http://www.src' || CAST(doc_id % 20 AS VARCHAR)
      |    || '.example.com/Docs/' || CAST(doc_id AS VARCHAR) AS url,
      |  CAST(5 AS BIGINT) AS n_fetches,
      |  CAST(ch AS BIGINT) AS n_changes,
      |  CAST(ch * 1000000 // 4 AS BIGINT) AS change_ppm,
      |  CASE WHEN ch * 1000000 // 4 >= 500000 THEN 'hot'
      |       WHEN ch > 0 THEN 'warm' ELSE 'cold' END AS priority
      |FROM (SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN 0
      |         WHEN doc_id % 4 = 0 THEN 4
      |         WHEN doc_id % 4 = 1 THEN 2
      |         ELSE 1 END AS ch
      |  FROM documents) t""".stripMargin

  /** HTTP-record mirror shared VERBATIM by q236 (batch) and q248
    * (streaming replay twin): CRLF via chr(13)||chr(10) in the
    * fixture, identical RE2 split/extract patterns in the parse.
    */
  private val HttpParseSql: String =
    """WITH rawr AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 7 = 1 THEN 'HTTP/1.1 404 Not Found'
      |          WHEN doc_id % 7 = 5 THEN 'GARBAGE'
      |          ELSE 'HTTP/1.1 200 OK' END)
      |    || chr(13) || chr(10) || 'Server: graft'
      |    || (CASE WHEN doc_id % 7 = 4
      |             THEN chr(13) || chr(10) || 'Transfer-Encoding: Chunked'
      |             ELSE '' END)
      |    || chr(13) || chr(10)
      |    || 'Content-Type: '
      |    || (CASE WHEN doc_id % 7 = 2 THEN 'application/pdf'
      |             WHEN doc_id % 2 = 0 THEN 'text/html; charset="utf-8"'
      |             ELSE 'Text/HTML' END)
      |    || (CASE WHEN doc_id % 7 = 3 THEN chr(10) || chr(10)
      |             ELSE chr(13) || chr(10) || chr(13) || chr(10) END)
      |    || '<html><body><p>' || text || '</p></body></html>' AS raw
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, raw,
      |    regexp_extract(raw, '^HTTP/[0-9.]+ ([0-9]{3})', 1) AS st_s,
      |    regexp_extract(raw, '(?s)^(.*?)\r\n\r\n', 1) AS head,
      |    CASE WHEN position(chr(13)||chr(10)||chr(13)||chr(10) IN raw) > 0
      |         THEN 1 ELSE 0 END AS has_sep
      |  FROM rawr),
      |q AS (
      |  SELECT doc_id,
      |    CASE WHEN st_s = '' THEN NULL ELSE CAST(st_s AS INT) END AS status,
      |    regexp_extract(head, '(?i)\r\nContent-Type:[ \t]*([^\r\n]*)', 1) AS ct,
      |    lower(trim(regexp_extract(head,
      |      '(?i)\r\nTransfer-Encoding:[ \t]*([^\r\n]*)', 1))) AS te,
      |    has_sep,
      |    CASE WHEN has_sep = 1
      |         THEN length(regexp_extract(raw, '(?s)^.*?\r\n\r\n(.*)', 1))
      |         ELSE 0 END AS body_chars
      |  FROM p)
      |SELECT doc_id, status,
      |  lower(trim(regexp_extract(ct, '^([^;]*)', 1))) AS content_type,
      |  lower(regexp_extract(ct, '(?i)(?:^|[;\s])charset="?([A-Za-z0-9_-]+)', 1)) AS charset,
      |  te AS transfer_encoding,
      |  CASE WHEN status IS NULL OR has_sep = 0 THEN 'malformed'
      |       WHEN status <> 200 THEN 'bad_status'
      |       WHEN te <> '' AND te <> 'identity' THEN 'bad_encoding'
      |       WHEN lower(trim(regexp_extract(ct, '^([^;]*)', 1))) <> 'text/html'
      |         THEN 'bad_type'
      |       ELSE 'ok' END AS decision,
      |  CAST(body_chars AS BIGINT) AS body_chars
      |FROM q""".stripMargin

  /** The composed politeness chain shared by q229 and the
    * delay-aware q247: urlDecisions keep rule → robots longest-prefix
    * rank → exact-N budget draw → per-host sched-v1 md5 rank. Emits
    * CTEs through `hr(doc_id, host, host_rank)` (plus `ids(i)`).
    */
  private val PolitenessChainSql: String = UrlCanonChainSql +
    """,
      |k AS (
      |  SELECT canonical_url, min(doc_id) AS keep_id
      |  FROM canon WHERE canonical_url IS NOT NULL GROUP BY 1),
      |kept AS (
      |  SELECT c.doc_id, c.canonical_url,
      |    lower(regexp_extract(regexp_extract(c.canonical_url,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
      |      '^(?:[^@]*@)?([^:]*)', 1)) AS host,
      |    CASE WHEN regexp_replace(regexp_extract(c.canonical_url,
      |           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
      |           '/+$', '') = '' THEN '/'
      |         ELSE regexp_replace(regexp_extract(c.canonical_url,
      |           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
      |           '/+$', '') END AS path
      |  FROM canon c JOIN k
      |    ON c.canonical_url = k.canonical_url AND c.doc_id = k.keep_id),
      |ids AS (SELECT unnest(range(0, 20)) AS i),
      |rl AS (
      |  SELECT 'www.src' || CAST(i AS VARCHAR) || '.example.com' AS host,
      |    '/' AS prefix, TRUE AS allow FROM ids
      |  UNION ALL
      |  SELECT 'www.src' || CAST(i AS VARCHAR) || '.example.com',
      |    '/Docs/' || CAST(i % 7 AS VARCHAR), FALSE FROM ids
      |  UNION ALL
      |  SELECT 'www.src' || CAST(i AS VARCHAR) || '.example.com',
      |    '/Docs/' || CAST(i % 7 AS VARCHAR) || '7', TRUE FROM ids),
      |m AS (
      |  SELECT f.doc_id, f.host, r.allow,
      |    row_number() OVER (PARTITION BY f.doc_id
      |      ORDER BY length(r.prefix) DESC NULLS LAST, r.prefix ASC NULLS FIRST,
      |        r.allow DESC NULLS LAST) AS rk
      |  FROM kept f LEFT JOIN rl r
      |    ON r.host = f.host AND starts_with(f.path, r.prefix)),
      |alw AS (
      |  SELECT doc_id, host FROM m WHERE rk = 1 AND coalesce(allow, TRUE)),
      |bud AS (
      |  SELECT doc_id, host FROM alw
      |  QUALIFY row_number() OVER (PARTITION BY host
      |    ORDER BY substr(md5(concat_ws(':', 'budget-v1',
      |      CAST(doc_id AS VARCHAR))), 1, 8), doc_id) <= 5),
      |hr AS (
      |  SELECT doc_id, host,
      |    CAST(row_number() OVER (PARTITION BY host
      |      ORDER BY substr(md5(concat_ws(':', 'sched-v1',
      |        CAST(doc_id AS VARCHAR))), 1, 8), doc_id) AS BIGINT)
      |      AS host_rank
      |  FROM bud)""".stripMargin

  /** The ARITHMETIC mirror of what [[graft.ext.UrlCanon.parseRobots]]
    * must produce from [[robotsBodiesFixture]] for agent `graftbot`:
    * %4=0 hosts surface ONLY the specific group's /private rules
    * (specific beats `*`); every other host surfaces exactly
    * [[robotsRulesFixture]]'s three `*` rules. Emits CTEs
    * `ids(i)`, `rl(host, prefix, allow)` — shared by q239 (parse
    * certification) and q240 (composed pipeline).
    */
  private val RobotsParsedRulesSql: String =
    """ids AS (SELECT unnest(range(0, 20)) AS i),
      |rl AS (
      |  SELECT 'www.src' || CAST(i AS VARCHAR) || '.example.com' AS host,
      |    '/private/' || CAST(i % 3 AS VARCHAR) AS prefix, FALSE AS allow
      |  FROM ids WHERE i % 4 = 0
      |  UNION ALL
      |  SELECT 'www.src' || CAST(i AS VARCHAR) || '.example.com',
      |    '/private/' || CAST(i % 3 AS VARCHAR) || '/pub', TRUE
      |  FROM ids WHERE i % 4 = 0
      |  UNION ALL
      |  SELECT 'www.src' || CAST(i AS VARCHAR) || '.example.com',
      |    '/', TRUE FROM ids WHERE i % 4 <> 0
      |  UNION ALL
      |  SELECT 'www.src' || CAST(i AS VARCHAR) || '.example.com',
      |    '/Docs/' || CAST(i % 7 AS VARCHAR), FALSE FROM ids WHERE i % 4 <> 0
      |  UNION ALL
      |  SELECT 'www.src' || CAST(i AS VARCHAR) || '.example.com',
      |    '/Docs/' || CAST(i % 7 AS VARCHAR) || '7', TRUE
      |  FROM ids WHERE i % 4 <> 0)""".stripMargin

  /** q219's host-edge rollup — shared with the incremental fold q221. */
  private val LinkGraphSelectSql: String =
    LinkGraphChainSql +
      """
        |SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
        |FROM e0 GROUP BY 1, 2""".stripMargin

  /** Integer fixed-point PageRank chain over a prepared `e(src, dst)`
    * CTE — q110's certified arithmetic, generated for any iteration
    * count. Emits node + rank; append the SELECT yourself.
    */
  private def pageRankChainSql(iters: Int): String = {
    val head =
      """nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        |r0 AS (SELECT node, 1000000000000 // n AS rank FROM nodes CROSS JOIN nn)"""
        .stripMargin
    val rounds = (1 to iters).map { i =>
      s"""m$i AS (SELECT e.dst, CAST(sum(r${i - 1}.rank // od.outdeg) AS BIGINT) AS m
         |       FROM e JOIN od USING (src) JOIN r${i - 1} ON r${i - 1}.node = e.src GROUP BY 1),
         |r$i AS (SELECT node,
         |         ((1000000000000 * 15) // 100) // n + (coalesce(m, 0) * 85) // 100 AS rank
         |       FROM nodes CROSS JOIN nn LEFT JOIN m$i ON m$i.dst = node)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + rounds
  }

  /** q318/q330 shared oracle builder — `damage = true` adds the
    * arm-10 double-encode content, its closed-form encoding_damage
    * rung, and the dedup-scope exclusion. ONE builder so the gated
    * variant cannot drift from the certified base chain.
    */
  private def bytesIntakeOracleSql(damage: Boolean): String =
    UrlCanonChainSql +
      """,
        |k AS (
        |  SELECT canonical_url, min(doc_id) AS keep_id
        |  FROM canon WHERE canonical_url IS NOT NULL GROUP BY 1),
        |dec AS (
        |  SELECT c.doc_id, c.canonical_url,
        |    CASE WHEN c.canonical_url IS NULL THEN 'bad_url'
        |         WHEN c.doc_id = k.keep_id THEN 'kept'
        |         ELSE 'dup_url' END AS decision
        |  FROM canon c LEFT JOIN k ON c.canonical_url = k.canonical_url),
        |fd AS (
        |  SELECT doc_id,
        |    CASE doc_id % 12 WHEN 1 THEN 'malformed' WHEN 2 THEN 'bad_status'
        |      WHEN 3 THEN 'bad_encoding' WHEN 4 THEN 'bad_type'
        |      WHEN 5 THEN 'bad_inflate' WHEN 6 THEN 'bad_charset'
        |      ELSE 'ok' END AS fdec
        |  FROM documents),
        |h AS (
        |  SELECT d.doc_id,
        |    '<html><head><title>Intake</title></head><body><!-- caf'
        |    || chr(233)
        |    || ' --><div class="main"><p>'
        |    || CASE d.doc_id % 12
        |         WHEN 7 THEN (SELECT text FROM documents WHERE doc_id = 1)
        |""".stripMargin +
      s"         WHEN 8 THEN '$EsGarble' || d.text\n" +
      """|         WHEN 9 THEN reverse(d.text)
        |""".stripMargin +
      (if (damage)
        // the lenient cp1252 decode of the arm-10 utf-8 bytes: each
        // planted \u00E9 (C3 A9) surfaces as chr(195) || chr(169)
        """|         WHEN 10 THEN d.text || ' caf' || chr(195) || chr(169)
          |           || ' r' || chr(195) || chr(169) || 'sum'
          |           || chr(195) || chr(169)
          |""".stripMargin
      else "") +
      """|         ELSE d.text END
        |    || '</p></div></body></html>' AS html
        |  FROM documents d JOIN fd ON fd.doc_id = d.doc_id
        |    AND fd.fdec = 'ok'),
        |""".stripMargin +
      HtmlExtractCtesSql +
      """,
        |lsc AS (
        |  SELECT doc_id, regexp_extract_all(lower(main_text), '[a-z0-9]+') AS toks
        |  FROM ext),
        |lgs AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, x -> x IN ('the','and','of','to','is','in','that','it','with','for'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('el','la','de','que','y','los','las','por','con','una'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('der','die','und','das','ist','nicht','ein','mit','von','den'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('le','la','les','et','est','des','une','dans','pour','que'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN ('il','di','che','la','per','una','sono','non','con','del'))) AS s_it
        |  FROM lsc),
        |lg AS (
        |  SELECT doc_id,
        |    CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_it) = 0 THEN 'und'
        |         WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_it) THEN 'en'
        |         WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_it) THEN 'es'
        |         WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_it) THEN 'de'
        |         WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_it) THEN 'fr'
        |         WHEN s_it = greatest(s_en, s_es, s_de, s_fr, s_it) THEN 'it'
        |         ELSE 'und' END AS guess
        |  FROM lgs),
        |rtok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w,
        |    generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS p
        |  FROM documents WHERE doc_id % 5 <> 0),
        |rbg AS (
        |  SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS w2
        |  FROM rtok QUALIFY w2 IS NOT NULL),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM rbg GROUP BY 1, 2),
        |stok AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(lower(main_text), '[a-z0-9]+')) AS w,
        |    generate_subscripts(regexp_extract_all(lower(main_text), '[a-z0-9]+'), 1)
        |      AS p
        |  FROM ext),
        |sbg AS (
        |  SELECT doc_id, w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS w2
        |  FROM stok QUALIFY w2 IS NOT NULL),
        |ppm AS (
        |  SELECT s.doc_id,
        |    CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS unseen
        |  FROM sbg s LEFT JOIN c2 ON c2.w1 = s.w1 AND c2.w2 = s.w2),
        |lmf AS (
        |  SELECT doc_id,
        |    CASE WHEN sum(unseen) * 1000000 // count(*) >= 500000
        |         THEN 'low' ELSE 'ok' END AS lmflag
        |  FROM ppm GROUP BY 1),
        |pre AS (
        |  SELECT e.doc_id, e.main_text
        |  FROM ext e
        |  JOIN dec ON dec.doc_id = e.doc_id AND dec.decision = 'kept'
        |  JOIN lg ON lg.doc_id = e.doc_id AND lg.guess IN ('en', 'und')
        |  LEFT JOIN lmf lf ON lf.doc_id = e.doc_id
        |  WHERE coalesce(lf.lmflag, 'ok') <> 'low'""".stripMargin +
      (if (damage) " AND e.doc_id % 12 <> 10" else "") +
      """|),
        |km AS (SELECT main_text, min(doc_id) AS keep_id FROM pre GROUP BY 1),
        |dck AS (
        |  SELECT p.doc_id, km.keep_id FROM pre p
        |  JOIN km ON km.main_text = p.main_text)
        |SELECT dec.doc_id, dec.canonical_url,
        |  CASE WHEN dec.decision <> 'kept' THEN dec.decision
        |       WHEN fd.fdec <> 'ok' THEN fd.fdec
        |""".stripMargin +
      (if (damage)
        // closed-form: arm 10 is PROVABLY the only damaged arm (every
        // other ok-arm main_text is pure ASCII -- the guarded fixture
        // contract -- so no moji pair / U+FFFD / C1 can fire)
        """|       WHEN dec.doc_id % 12 = 10 THEN 'encoding_damage'
          |""".stripMargin
      else "") +
      """|       WHEN lg.guess IS NOT NULL AND lg.guess NOT IN ('en', 'und')
        |         THEN 'wrong_language'
        |       WHEN lf.lmflag = 'low' THEN 'low_quality'
        |       WHEN dck.keep_id IS NOT NULL AND dck.keep_id <> dec.doc_id
        |         THEN 'dup_content'
        |       ELSE 'kept' END AS decision
        |FROM dec
        |JOIN fd ON fd.doc_id = dec.doc_id
        |LEFT JOIN lg ON lg.doc_id = dec.doc_id
        |LEFT JOIN lmf lf ON lf.doc_id = dec.doc_id
        |LEFT JOIN dck ON dck.doc_id = dec.doc_id""".stripMargin

  /** q223/q346 shared oracle CTEs — the robotsDecide mirror over
    * the messy-URL fixture (canon chain + rules + longest-prefix
    * argmax); ONE definition so the policy capstone cannot drift
    * from the certified site-level decision.
    */
  private val RobotsDecideCtes: String = UrlCanonChainSql +
      """,
        |f AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(auth, '^(?:[^@]*@)?([^:]*)', 1)) AS host,
        |    CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
        |         ELSE regexp_replace(rawpath, '/+$', '') END AS path
        |  FROM canon WHERE canonical_url IS NOT NULL),
        |ids AS (SELECT unnest(range(0, 20)) AS i),
        |rl AS (
        |  SELECT 'www.src' || CAST(i AS VARCHAR) || '.example.com' AS host,
        |    '/' AS prefix, TRUE AS allow FROM ids
        |  UNION ALL
        |  SELECT 'www.src' || CAST(i AS VARCHAR) || '.example.com',
        |    '/Docs/' || CAST(i % 7 AS VARCHAR), FALSE FROM ids
        |  UNION ALL
        |  SELECT 'www.src' || CAST(i AS VARCHAR) || '.example.com',
        |    '/Docs/' || CAST(i % 7 AS VARCHAR) || '7', TRUE FROM ids),
        |m AS (
        |  SELECT f.doc_id, f.url, f.host, f.path, r.prefix, r.allow,
        |    row_number() OVER (PARTITION BY f.doc_id
        |      ORDER BY length(r.prefix) DESC NULLS LAST, r.prefix ASC NULLS FIRST,
        |        r.allow DESC NULLS LAST)
        |      AS rk
        |  FROM f LEFT JOIN rl r
        |    ON r.host = f.host AND starts_with(f.path, r.prefix))
        |""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // ── URL canonicalization (ext/UrlCanon): the crawl-side dedup
    // stage that runs BEFORE content dedup — scheme/host lowercased,
    // userinfo/fragment stripped, default ports dropped, trailing
    // slashes collapsed, query params SORTED; pure native string/regex
    // expressions (no UDF, RE2-safe — DuckDB reproduces every one).
    // Fixture: deterministic messy spellings synthesized from
    // `documents` (case/port/query-order/slash/fragment variants plus
    // a non-URL arm that must canonicalize to NULL). ──
    QuerySpec("q213_url_canon", (s, dir) => {
      import graft.ext.UrlCanon
      val raw = urlFixture(t(s, dir, "documents"))
      raw.select(col("doc_id"), col("url"),
          UrlCanon.canonicalUrl(col("url")).as("canonical_url"))
        .withColumn("host",
          when(col("canonical_url").isNull, lit(null).cast("string"))
            .otherwise(UrlCanon.canonicalHost(col("canonical_url"))))
    },
      UrlCanonSelectSql),

    // ── host-grain crawl rollup (the crawl-ops table a 100-TB
    // pipeline watches): canonical-URL dedup (min-id keep) then per
    // canonical host — distinct surviving URLs, total raw fetches,
    // bytes of the kept docs. One keyed aggregate per grain. ──
    QuerySpec("q214_host_rollup", (s, dir) =>
      graft.ext.UrlCanon.hostRollup(
        urlFixture(t(s, dir, "documents")), "url", "doc_id", "n_chars"),
      (UrlCanonChainSql +
        """,
          |k AS (
          |  SELECT canonical_url, min(doc_id) AS doc_id, count(*) AS n_variants
          |  FROM canon WHERE canonical_url IS NOT NULL GROUP BY 1),
          |kk AS (
          |  SELECT k.canonical_url, k.n_variants, c.n_chars
          |  FROM k JOIN canon c ON c.doc_id = k.doc_id)
          |SELECT lower(regexp_extract(regexp_extract(kk.canonical_url,
          |    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
          |    '^(?:[^@]*@)?([^:]*)', 1)) AS host,
          |  CAST(count(*) AS BIGINT) AS n_urls,
          |  CAST(sum(n_variants) AS BIGINT) AS n_fetches,
          |  CAST(sum(n_chars) AS BIGINT) AS total_bytes
          |FROM kk GROUP BY 1""".stripMargin)),

    // ── per-fetch URL decisions feeding the crawl capstone: bad_url /
    // kept / dup_url BEFORE any shingling or index probe — the variant
    // mass dies on a string aggregate, not in the minhash pipeline.
    // Same decision-table idiom as q190's dup_index/dup_batch. ──
    QuerySpec("q215_crawl_url_dedup", (s, dir) =>
      graft.ext.UrlCanon.urlDecisions(
          urlFixture(t(s, dir, "documents")).drop("n_chars"), "url", "doc_id")
        .select("doc_id", "url", "canonical_url", "decision"),
      (UrlCanonChainSql +
        """,
          |k AS (
          |  SELECT canonical_url, min(doc_id) AS keep_id
          |  FROM canon WHERE canonical_url IS NOT NULL GROUP BY 1)
          |SELECT c.doc_id, c.url, c.canonical_url,
          |  CASE WHEN c.canonical_url IS NULL THEN 'bad_url'
          |       WHEN c.doc_id = k.keep_id THEN 'kept'
          |       ELSE 'dup_url' END AS decision
          |FROM canon c LEFT JOIN k ON c.canonical_url = k.canonical_url"""
          .stripMargin)),

    // ── the STAGED crawl-dedup capstone: canonicalize → per-canonical-
    // URL dedup → minhash content near-dup ONLY over the URL-surviving
    // docs (the real pipeline order — spelling variants never reach the
    // shingle/index tier; at sf0.01 the URL stage kills 272 of 470
    // fetches before any minhash work). Content rule is q190's
    // conservative batch rule: suppressed iff a SMALLER-id kept doc is
    // near-dup-similar. Four decision classes certified in one table:
    // bad_url / dup_url / dup_content / kept. ──
    // ── per-host crawl BUDGET enforcement: after URL dedup, keep at
    // most 5 docs per canonical host, deterministically (sampleExactN's
    // md5-ranked exact-N per stratum, q100's certified machinery) —
    // "crawl politeness" for the corpus builder: no host may dominate
    // the intake no matter how many URLs it serves. The budget binds
    // on the fixture: ~10 kept docs/host → 5 survive. ──
    QuerySpec("q217_host_budget", (s, dir) => {
      import graft.ext.UrlCanon
      val dec = UrlCanon.urlDecisions(
        urlFixture(t(s, dir, "documents")).drop("n_chars"), "url", "doc_id")
      val kept = dec.filter(col("decision") === "kept")
        .select(col("doc_id"), col("canonical_url"),
          UrlCanon.canonicalHost(col("canonical_url")).as("host"))
      graft.operators.Sampling.sampleExactN(kept, "host", col("doc_id"),
        n = 5, salt = "budget-v1")
    },
      (UrlCanonChainSql +
        """,
          |k AS (
          |  SELECT canonical_url, min(doc_id) AS keep_id
          |  FROM canon WHERE canonical_url IS NOT NULL GROUP BY 1),
          |kept AS (
          |  SELECT c.doc_id, c.canonical_url,
          |    lower(regexp_extract(regexp_extract(c.canonical_url,
          |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
          |      '^(?:[^@]*@)?([^:]*)', 1)) AS host
          |  FROM canon c JOIN k
          |    ON c.canonical_url = k.canonical_url AND c.doc_id = k.keep_id)
          |SELECT doc_id, canonical_url, host FROM kept
          |QUALIFY row_number() OVER (PARTITION BY host
          |  ORDER BY substr(md5(concat_ws(':', 'budget-v1',
          |    CAST(doc_id AS VARCHAR))), 1, 8), doc_id) <= 5""".stripMargin)),

    // ── STREAMING URL triage: q213's canonicalization on a LIVE
    // ingest (.write.json waves → readStream.json → UrlCanon
    // projections) — a stateless per-row map, so two delivery waves
    // must accumulate the identical table; certified against q213's
    // batch oracle VERBATIM (the q185 discipline). ──
    QuerySpec("q218_url_canon_stream", (s, dir) =>
      graft.streaming.StreamingReports.urlCanonStreamReplay(
        s, urlFixture(t(s, dir, "documents")).select("doc_id", "url")),
      // identical-oracle certification: the streaming triage must
      // accumulate exactly the batch projection
      UrlCanonSelectSql),

    // ── WEB-GRAPH construction from crawled HTML (the link-analysis
    // half of a crawl pipeline): regexp-extract every href, canonical-
    // ize (junk hrefs drop through the NULL route), roll up to the
    // canonical-host link graph. Pure projections + one keyed count —
    // the 100-TB shape for "build the host graph from 100 TB of
    // pages". ──
    QuerySpec("q219_link_graph", (s, dir) =>
      linkEdges(t(s, dir, "documents")).groupBy("src_host", "dst_host")
        .agg(count(lit(1)).as("n_links")),
      LinkGraphSelectSql),

    // ── robots-style allow/deny by LONGEST-prefix match (the crawl-
    // compliance stage): a broadcast (host, prefix, allow) policy
    // table; each fetch takes its longest matching prefix rule —
    // '/' allows, '/Docs/<d>' denies a subtree, '/Docs/<d>7' is an
    // allow-override beneath it, so precedence is exercised three
    // levels deep. Unmatched fetches default to allow. ──
    QuerySpec("q223_robots_filter", (s, dir) => {
      import graft.ext.UrlCanon
      val raw = urlFixture(t(s, dir, "documents")).drop("n_chars")
        .filter(UrlCanon.canonicalUrl(col("url")).isNotNull)
      UrlCanon.robotsDecide(raw, "doc_id", "url", robotsRulesFixture(s))
    },
      (RobotsDecideCtes +
        """SELECT doc_id, url, host, path, prefix AS rule_prefix,
          |  CASE WHEN coalesce(allow, TRUE) THEN 'allow' ELSE 'deny' END AS decision
          |FROM m WHERE rk = 1""".stripMargin)),

    // ── crawl politeness scheduling — the composed frontier capstone:
    // URL dedup (q215) → robots compliance (q223's policy, allow only)
    // → per-host budget (q217's exact-N machinery) → deterministic
    // per-host ROUND-ROBIN interleave: within host, fetches rank by a
    // salted md5 permutation; globally rank-1 fetches of every host
    // precede any rank-2 fetch. fetch_seq is a dense 1..n schedule via
    // Layout.globalDenseSeq (range-sorted enumeration — never a
    // single-partition window). ──
    QuerySpec("q229_politeness_schedule", (s, dir) => {
      import graft.ext.UrlCanon
      val dec = UrlCanon.urlDecisions(
        urlFixture(t(s, dir, "documents")).drop("n_chars"), "url", "doc_id")
      val kept = dec.filter(col("decision") === "kept")
        .select(col("doc_id"), col("canonical_url"))
      val allowed = UrlCanon
        .robotsDecide(kept, "doc_id", "canonical_url", robotsRulesFixture(s))
        .filter(col("decision") === "allow")
        .select(col("doc_id"), col("host"))
      val budgeted = graft.operators.Sampling.sampleExactN(
        allowed, "host", col("doc_id"), n = 5, salt = "budget-v1")
      UrlCanon.politenessSchedule(budgeted, "host", "doc_id")
    },
      // politeness composition: q215's keep rule, q223's robots argmax
      // (on the CANONICAL url — idempotent re-canonicalization), q217's
      // budget draw, then the round-robin windows; seq mirrors
      // globalDenseSeq's total (host_rank, host) order
      (PolitenessChainSql +
        """
          |SELECT doc_id, host, host_rank,
          |  CAST(row_number() OVER (ORDER BY host_rank, host) AS BIGINT)
          |    AS fetch_seq
          |FROM hr""".stripMargin)),

    // ── incremental link-graph maintenance: per-batch edge STATES
    // (q97's mergeable state/fold machinery) folded into the full
    // graph — a crawl batch updates host-edge counts without
    // re-extracting the historical corpus. Certified against q219's
    // oracle VERBATIM: merge(state(old), state(batch)) must equal the
    // one-shot extraction. ──
    QuerySpec("q221_linkgraph_incremental", (s, dir) => {
      import graft.operators.IncrementalAgg
      val docs = t(s, dir, "documents")
      def st(d: DataFrame) =
        IncrementalAgg.state(linkEdges(d), Seq("src_host", "dst_host"))
      IncrementalAgg.merge(
          st(docs.filter(col("doc_id") % 3 =!= 0)),
          st(docs.filter(col("doc_id") % 3 === 0)),
          Seq("src_host", "dst_host"))
        .select(col("src_host"), col("dst_host"), col("cnt").as("n_links"))
    },
      // identical-oracle certification: the incremental fold must equal
      // the one-shot extraction
      LinkGraphSelectSql),

    // ── host-authority capstone: integer-exact PageRank (q110's
    // certified fixed-point machinery) over the q219 host graph —
    // link extraction → canonicalization → graph → authority in one
    // certified chain, joining the URL family to the graph family. ──
    QuerySpec("q220_host_pagerank", (s, dir) => {
      val e = linkEdges(t(s, dir, "documents")).select(
          regexp_extract(col("src_host"), "src([0-9]+)", 1).cast("long").as("src"),
          regexp_extract(col("dst_host"), "src([0-9]+)", 1).cast("long").as("dst"))
        // pageRank consumes its edges four ways; checkpoint the
        // expensive extract→resolve→canonicalize derivation ONCE
        .localCheckpoint()
      graft.operators.PageRank.pageRank(e, "src", "dst", iterations = 3)
        .select(concat(lit("www.src"), col("node").cast("string"),
          lit(".example.com")).as("host"), col("rank"))
    },
      (LinkGraphChainSql +
        """,
          |e AS (
          |  SELECT DISTINCT
          |    CAST(regexp_extract(src_host, 'src([0-9]+)', 1) AS BIGINT) AS src,
          |    CAST(regexp_extract(dst_host, 'src([0-9]+)', 1) AS BIGINT) AS dst
          |  FROM e0),
          |""".stripMargin + pageRankChainSql(3) +
        """
          |SELECT 'www.src' || CAST(node AS VARCHAR) || '.example.com' AS host,
          |  CAST(rank AS BIGINT) AS rank
          |FROM r3""".stripMargin)),

    QuerySpec("q216_crawl_staged_dedup", (s, dir) => {
      import graft.ext.UrlCanon
      val dec = UrlCanon.urlDecisions(
          urlFixture(t(s, dir, "documents")).drop("n_chars"), "url", "doc_id")
        .select("doc_id", "canonical_url", "decision")
        .localCheckpoint() // feeds the kept slice AND the final table
      val kept = dec.filter(col("decision") === "kept")
        .join(t(s, dir, "documents").select("doc_id", "text"), Seq("doc_id"))
      val pairs = Dedup.nearDupPairsMinhash(kept, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.8)
      val dupContent = pairs.select(col("doc_b").as("doc_id")).distinct()
        .withColumn("__dc", lit(1))
      dec.join(dupContent, Seq("doc_id"), "left")
        .select(col("doc_id"), col("canonical_url"),
          when(col("decision") === "kept" && col("__dc").isNotNull,
            lit("dup_content")).otherwise(col("decision")).as("decision"))
    },
      // staged capstone: URL decisions (q215's derivation) + exact-Jaccard
      // content truth over the URL-kept slice only (q18's shingle SQL)
      (UrlCanonChainSql +
        """,
          |k AS (
          |  SELECT canonical_url, min(doc_id) AS keep_id
          |  FROM canon WHERE canonical_url IS NOT NULL GROUP BY 1),
          |dec AS (
          |  SELECT c.doc_id, c.canonical_url,
          |    CASE WHEN c.canonical_url IS NULL THEN 'bad_url'
          |         WHEN c.doc_id = k.keep_id THEN 'kept'
          |         ELSE 'dup_url' END AS decision
          |  FROM canon c LEFT JOIN k ON c.canonical_url = k.canonical_url),
          |tok AS (
          |  SELECT d.doc_id,
          |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok,
          |    generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1)
          |      AS pos
          |  FROM documents d JOIN dec ON dec.doc_id = d.doc_id
          |  WHERE dec.decision = 'kept'),
          |sh AS (
          |  SELECT DISTINCT doc_id,
          |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
          |      AS shingle
          |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
          |  QUALIFY lead(tok, 2) OVER w IS NOT NULL),
          |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          |inter AS (
          |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
          |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2),
          |dupc AS (
          |  SELECT DISTINCT db AS doc_id
          |  FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
          |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8)
          |SELECT dec.doc_id, dec.canonical_url,
          |  CASE WHEN dec.decision = 'kept' AND dupc.doc_id IS NOT NULL
          |       THEN 'dup_content' ELSE dec.decision END AS decision
          |FROM dec LEFT JOIN dupc ON dupc.doc_id = dec.doc_id"""
          .stripMargin)),

    // ── HTML main-content extraction (ext/HtmlExtract): the stage
    // between fetch and text analysis the crawl family was missing —
    // strip script/style/comments, drop tags, decode entities,
    // collapse whitespace; pure codegen'd regex/replace chain, no UDF,
    // RE2-safe (DuckDB runs the identical chain). Hostile fixture:
    // script bodies with '<', unclosed script/comment swallowing to
    // EOS, entity runs, truncated-fetch unclosed tags. ──
    QuerySpec("q226_html_extract", (s, dir) =>
      htmlFixture(t(s, dir, "documents"))
        .select(col("doc_id"),
          graft.ext.HtmlExtract.mainText(col("html")).as("main_text"))
        .withColumn("n_chars_text", length(col("main_text")).cast("long")),
      HtmlExtractSelectSql),

    // ── the FULL crawl-text chain (q216's staged capstone with the
    // missing stage inserted): canonicalize → per-canonical-URL dedup
    // → EXTRACT main text from the fetched HTML → minhash content
    // near-dup over the extracted text. The content tier now scores
    // what a real pipeline scores — page text, not raw bytes — and
    // spelling variants still never reach the shingle tier. ──
    QuerySpec("q227_crawl_text_capstone", (s, dir) => {
      import graft.ext.{HtmlExtract, UrlCanon}
      val docs = t(s, dir, "documents")
      val dec = UrlCanon.urlDecisions(
          urlFixture(docs).drop("n_chars"), "url", "doc_id")
        .select("doc_id", "canonical_url", "decision")
        .localCheckpoint() // feeds the kept slice AND the final table
      val kept = dec.filter(col("decision") === "kept")
        .join(htmlFixture(docs), Seq("doc_id"))
        .select(col("doc_id"),
          HtmlExtract.mainText(col("html")).as("text"))
      val pairs = Dedup.nearDupPairsMinhash(kept, "doc_id", "text",
        shingleK = 3, numHashes = 128, bands = 32, threshold = 0.8)
      val dupContent = pairs.select(col("doc_b").as("doc_id")).distinct()
        .withColumn("__dc", lit(1))
      dec.join(dupContent, Seq("doc_id"), "left")
        .select(col("doc_id"), col("canonical_url"),
          when(col("decision") === "kept" && col("__dc").isNotNull,
            lit("dup_content")).otherwise(col("decision")).as("decision"))
    },
      // full crawl-text chain: q216's URL decisions + HTML extraction
      // over the kept fetches + exact-Jaccard content truth on the
      // EXTRACTED text (q216's shingle SQL reading ext.main_text)
      (UrlCanonChainSql +
        """,
          |k AS (
          |  SELECT canonical_url, min(doc_id) AS keep_id
          |  FROM canon WHERE canonical_url IS NOT NULL GROUP BY 1),
          |dec AS (
          |  SELECT c.doc_id, c.canonical_url,
          |    CASE WHEN c.canonical_url IS NULL THEN 'bad_url'
          |         WHEN c.doc_id = k.keep_id THEN 'kept'
          |         ELSE 'dup_url' END AS decision
          |  FROM canon c LEFT JOIN k ON c.canonical_url = k.canonical_url),
          |""".stripMargin +
        htmlFixtureSql("FROM (SELECT d.doc_id, d.text FROM documents d" +
          " JOIN dec ON dec.doc_id = d.doc_id WHERE dec.decision = 'kept') dk") +
        ",\n" + HtmlExtractCtesSql +
        """,
          |tok AS (
          |  SELECT doc_id,
          |    unnest(regexp_extract_all(lower(main_text), '[a-z0-9]+')) AS tok,
          |    generate_subscripts(regexp_extract_all(lower(main_text), '[a-z0-9]+'), 1)
          |      AS pos
          |  FROM ext),
          |sh AS (
          |  SELECT DISTINCT doc_id,
          |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
          |      AS shingle
          |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
          |  QUALIFY lead(tok, 2) OVER w IS NOT NULL),
          |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          |inter AS (
          |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
          |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2),
          |dupc AS (
          |  SELECT DISTINCT db AS doc_id
          |  FROM inter JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
          |  WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.8)
          |SELECT dec.doc_id, dec.canonical_url,
          |  CASE WHEN dec.decision = 'kept' AND dupc.doc_id IS NOT NULL
          |       THEN 'dup_content' ELSE dec.decision END AS decision
          |FROM dec LEFT JOIN dupc ON dupc.doc_id = dec.doc_id""".stripMargin)),

    // ── markup-density stats (the link-density boilerplate signal —
    // Kohlschütter-style, integer form): per page, tag count, link
    // count, extracted-text share of the raw bytes in ppm. Pages that
    // are mostly markup/links are navigation/boilerplate, not
    // training text. Pure per-row projections over the q226 chain —
    // no shuffle; all-integer so it hash-certifies. ──
    QuerySpec("q233_markup_stats", (s, dir) => {
      import graft.ext.HtmlExtract
      htmlFixture(t(s, dir, "documents"))
        .select(col("doc_id"),
          size(expr("regexp_extract_all(html, '</?[A-Za-z][^>]*>', 0)"))
            .cast("long").as("n_tags"),
          size(expr("regexp_extract_all(html, '(?i)<a\\\\b[^>]*>', 0)"))
            .cast("long").as("n_links"),
          length(col("html")).cast("long").as("n_raw"),
          length(HtmlExtract.mainText(col("html"))).cast("long").as("n_text"))
        .withColumn("text_ppm",
          expr("CAST(n_text * 1000000 DIV n_raw AS BIGINT)"))
    },
      // markup-density mirror: same fixture + extraction chain; tag and
      // link counts via regexp_extract_all list lengths
      ("WITH " + htmlFixtureSql("FROM documents") +
        ",\n" + HtmlExtractCtesSql +
        """
          |SELECT h.doc_id,
          |  CAST(len(regexp_extract_all(h.html, '</?[A-Za-z][^>]*>')) AS BIGINT)
          |    AS n_tags,
          |  CAST(len(regexp_extract_all(h.html, '(?i)<a\b[^>]*>')) AS BIGINT)
          |    AS n_links,
          |  CAST(length(h.html) AS BIGINT) AS n_raw,
          |  CAST(length(e.main_text) AS BIGINT) AS n_text,
          |  CAST(length(e.main_text) * 1000000 // length(h.html) AS BIGINT)
          |    AS text_ppm
          |FROM h JOIN ext e ON e.doc_id = h.doc_id""".stripMargin)),

    // ── sitemap FRONTIER discovery (the crawl-expansion stage):
    // per-page sitemap XML → <loc> extraction → canonicalization (the
    // real operator path) → LEFT ANTI against the already-crawled
    // canonical set = the new frontier. Fixture: each sitemap lists a
    // never-crawled /New/ target and a messy /Docs/ target whose
    // canonical form collides with the crawled space except for six
    // residue classes whose only fetch was the %17 bad_url arm — so
    // the anti-join provably both keeps and drops. Oracle derives the
    // canonical forms ARITHMETICALLY (independent truth, not the
    // mirrored regex chain). ──
    QuerySpec("q237_sitemap_frontier", (s, dir) => {
      import graft.ext.UrlCanon
      val docs = t(s, dir, "documents")
      val tt1 = col("doc_id") * (col("doc_id") + 5) + 2
      val tt3 = col("doc_id") * (col("doc_id") + 13) + 11
      val t1 = concat(lit("http://www.src"), (tt1 % 20).cast("string"),
        lit(".example.com/New/"), (tt1 % 50).cast("string"))
      // third loc is ROOT-RELATIVE (round 13): the sitemap protocol
      // says absolute, real sitemaps ship relative locs anyway —
      // crawlers resolve them against the sitemap's own URL
      val sitemaps = docs.select(col("doc_id"), concat(
        lit("<?xml version=\"1.0\"?><urlset><url><loc>"), t1,
        lit("</loc></url><url><loc>"),
        messyUrl(col("doc_id") * (col("doc_id") + 9) + 7),
        lit("</loc></url><url><loc>/New2/"), (tt3 % 50).cast("string"),
        lit("</loc></url></urlset>")).as("xml"))
      val cand = sitemaps
        .select(col("doc_id"), explode(expr(
          "regexp_extract_all(xml, '<loc>([^<]*)</loc>', 1)")).as("loc"))
        .select(explode_outer(array(UrlCanon.resolveUrl(
          messyUrl(col("doc_id")), col("loc")))).as("abs_loc"))
        .select(UrlCanon.canonicalUrl(col("abs_loc")).as("canonical_url"))
        .filter(col("canonical_url").isNotNull).distinct()
      val crawled = UrlCanon.urlDecisions(
          urlFixture(docs).drop("n_chars"), "url", "doc_id")
        .filter(col("decision") === "kept").select("canonical_url")
      cand.join(crawled, Seq("canonical_url"), "left_anti")
        .select(col("canonical_url"),
          UrlCanon.canonicalHost(col("canonical_url")).as("host"))
    },
      // sitemap-frontier mirror: canonical forms derived ARITHMETICALLY
      // from the residues (independent truth for the regex chain);
      // crawled set = canonical classes whose fetch was not the %17 bad
      // arm; host via the standard nested-regex mirror.
      // COUPLING ASSUMPTION (ADVICE r12): canonOf drops :80/:443
      // unconditionally while canonicalUrl RETAINS them when they
      // mismatch the scheme (https://h:80, http://h:443). That omission
      // is safe here ONLY because host = x%20 determines x%5 (20 = 4·5),
      // so a port-divergent crawled spelling can never collide with a
      // candidate on the same host: the candidates' quadratic formulas
      // never land in %5 ∈ {0,1} for a shared %20 class. If the fixture's
      // host modulus or the quadratic formulas change, re-derive this or
      // encode the true scheme/port-mismatch rule in canonOf.
      {
        def canonOf(x: String): String =
          s"((CASE WHEN ($x) % 3 = 1 THEN 'https' ELSE 'http' END) || " +
            s"'://www.src' || CAST(($x) % 20 AS VARCHAR) || '.example.com' || " +
            s"(CASE WHEN ($x) % 5 = 2 THEN ':8080' ELSE '' END) || " +
            s"'/Docs/' || CAST(($x) % 50 AS VARCHAR) || " +
            s"(CASE WHEN ($x) % 4 IN (0, 1) THEN '?a=1&b=2' ELSE '' END))"
        s"""WITH cand AS (
           |  SELECT DISTINCT 'http://www.src'
           |      || CAST((doc_id*(doc_id+5)+2) % 20 AS VARCHAR)
           |      || '.example.com/New/'
           |      || CAST((doc_id*(doc_id+5)+2) % 50 AS VARCHAR) AS cu
           |  FROM documents
           |  UNION
           |  SELECT DISTINCT ${canonOf("doc_id*(doc_id+9)+7")} FROM documents
           |  UNION
           |  SELECT DISTINCT ${mScmSql("doc_id")} || '://' || ${mHostCanSql("doc_id")}
           |      || ${mPortCanSql("doc_id", mScmSql("doc_id"))}
           |      || '/New2/' || CAST((doc_id*(doc_id+13)+11) % 50 AS VARCHAR)
           |  FROM documents),
           |crawled AS (
           |  SELECT DISTINCT ${canonOf("doc_id")} AS cu
           |  FROM documents WHERE doc_id % 17 <> 0)
           |SELECT c.cu AS canonical_url, ${hostOfSql("c.cu")} AS host
           |FROM cand c LEFT JOIN crawled w ON w.cu = c.cu
           |WHERE w.cu IS NULL""".stripMargin
      }),

    // ── HTTP redirect-chain resolution (UrlCanon.resolveRedirects):
    // 3xx Location values — RELATIVE ones resolved against the fetched
    // URL — followed through the URL-keyed redirect map to the
    // terminal URL, with every route live: direct, 1-hop to an in-log
    // terminal, 1-hop to an EXTERNAL url, 2-hop chains (the %10=1 arm
    // lands on the %5=2 arm, which lands on a %5=0 terminal),
    // root-relative Locations, javascript: junk (bad_location),
    // self-loops, and a 2-cycle via companion /R2/ fetch rows. Oracle:
    // every final_url/hops/status derives ARITHMETICALLY from the id
    // residues — the chain walk is certified against closed-form
    // truth. ──
    QuerySpec("q242_redirect_chains", (s, dir) => {
      import graft.ext.UrlCanon
      val docs = t(s, dir, "documents")
      val i = col("doc_id")
      def host(m: Column) = concat(lit("http://www.src"),
        (m % 20).cast("string"), lit(".example.com"))
      val url = concat(host(i), lit("/R/"), (i % 100).cast("string"))
      val loc =
        when(i % 5 === 0, lit(""))
          .when(i % 10 === 1,
            concat(host(i + 1), lit("/R/"), ((i + 1) % 100).cast("string")))
          .when(i % 10 === 6,
            concat(lit("/R/"), ((i + 4) % 100).cast("string")))
          .when(i % 5 === 2,
            concat(host(i + 3), lit("/R/"), ((i + 3) % 100).cast("string")))
          .when(i % 5 === 3, lit("javascript:void(0)"))
          .when(i % 10 === 4,
            concat(lit("/R/"), (i % 100).cast("string")))
          .otherwise(concat(lit("/R2/"), (i % 100).cast("string")))
      val base = docs.select(i, url.as("url"), loc.as("loc"))
      val extra = docs.filter(i % 10 === 9)
        .select((i + 1000000L).as("doc_id"),
          concat(host(i), lit("/R2/"), (i % 100).cast("string")).as("url"),
          concat(lit("/R/"), (i % 100).cast("string")).as("loc"))
      UrlCanon.resolveRedirects(base.unionByName(extra), "doc_id", "url", "loc")
    },
      // redirect-chain mirror: final_url/hops/status all closed-form in
      // the id residues (the %10 arms checked before their %5 parents);
      // nothing re-walks the chain
      {
        def hostOf(x: String): String =
          s"('http://www.src' || CAST(($x) % 20 AS VARCHAR) || '.example.com')"
        s"""WITH d AS (SELECT doc_id AS i FROM documents),
           |base AS (
           |  SELECT i AS doc_id,
           |    ${hostOf("i")} || '/R/' || CAST(i % 100 AS VARCHAR) AS url,
           |    i AS k, FALSE AS extra
           |  FROM d
           |  UNION ALL
           |  SELECT i + 1000000,
           |    ${hostOf("i")} || '/R2/' || CAST(i % 100 AS VARCHAR), i, TRUE
           |  FROM d WHERE i % 10 = 9)
           |SELECT doc_id, url,
           |  CASE
           |    WHEN extra THEN ${hostOf("k")} || '/R/' || CAST(k % 100 AS VARCHAR)
           |    WHEN k % 5 = 0 THEN url
           |    WHEN k % 10 = 1 THEN ${hostOf("k+4")} || '/R/' || CAST((k+4) % 100 AS VARCHAR)
           |    WHEN k % 10 = 6 THEN ${hostOf("k")} || '/R/' || CAST((k+4) % 100 AS VARCHAR)
           |    WHEN k % 5 = 2 THEN ${hostOf("k+3")} || '/R/' || CAST((k+3) % 100 AS VARCHAR)
           |    WHEN k % 5 = 3 THEN url
           |    WHEN k % 10 = 4 THEN url
           |    ELSE ${hostOf("k")} || '/R2/' || CAST(k % 100 AS VARCHAR)
           |  END AS final_url,
           |  CAST(CASE WHEN extra THEN 1 WHEN k % 5 = 0 THEN 0
           |       WHEN k % 10 = 1 THEN 2 WHEN k % 10 = 6 THEN 1
           |       WHEN k % 5 = 2 THEN 1 WHEN k % 5 = 3 THEN 0
           |       WHEN k % 10 = 4 THEN 0 ELSE 1 END AS BIGINT) AS hops,
           |  CASE WHEN extra THEN 'loop' WHEN k % 5 = 0 THEN 'direct'
           |       WHEN k % 10 = 1 THEN 'redirected'
           |       WHEN k % 10 = 6 THEN 'redirected'
           |       WHEN k % 5 = 2 THEN 'redirected'
           |       WHEN k % 5 = 3 THEN 'bad_location'
           |       WHEN k % 10 = 4 THEN 'loop' ELSE 'loop' END AS status
           |FROM base""".stripMargin
      }),

    // ── ANCHOR-TEXT aggregation (the classic inlink signal a web-scale
    // corpus builder indexes): <a>…</a> elements extracted whole,
    // href resolved (scheme-relative spellings live) + canonicalized,
    // anchor text stripped of inline markup and tokenized, then per
    // TARGET URL: inlink count, distinct source hosts, sorted anchor
    // vocabulary. Junk hrefs drop through the NULL-canonical route
    // before ever contributing tokens. Shape: two keyed aggregates on
    // dst_url (one link-grain, one token-grain) + one keyed join —
    // never pages². Oracle: targets and token sets derive
    // ARITHMETICALLY from the id formulas. ──
    QuerySpec("q243_anchor_text", (s, dir) => {
      import graft.ext.UrlCanon
      val docs = t(s, dir, "documents")
      val i = col("doc_id")
      val t1 = i * (i + 3) + 1
      val t2 = i * (i + 7) + 5
      val html = docs.select(i, concat(
        lit("<html><body><p>Doc "), i.cast("string"),
        lit("</p><a class=\"x\" href=\""), messyUrl(t1),
        lit("\">go <b>page"), (t1 % 50).cast("string"),
        lit("</b> now</a> <a href=\""),
        regexp_replace(messyUrl(t2), "^[A-Za-z][A-Za-z0-9+.-]*:", ""),
        lit("\">visit hub"), (t2 % 20).cast("string"), lit("</a>"),
        when(i % 9 === 0,
          lit(" <a href=\"javascript:void(0)\">click</a>"))
          .otherwise(lit("")),
        lit("</body></html>")).as("html"))
      val anchors = html.select(i, explode_outer(expr(
          "regexp_extract_all(html, " +
            "'(?is)<a\\\\b[^>]*href=\"[^\"]*\"[^>]*>.*?</a[ \\\\t\\\\n\\\\x0B\\\\f\\\\r]*>', 0)"))
          .as("__a"))
        .filter(col("__a").isNotNull)
        .select(i,
          regexp_extract(col("__a"), "(?is)>(.*)</a[ \\t\\n\\x0B\\f\\r]*>", 1)
            .as("__atext"),
          explode_outer(array(UrlCanon.resolveUrl(messyUrl(i),
            regexp_extract(col("__a"), "(?is)href=\"([^\"]*)\"", 1))))
            .as("__abs"))
        .withColumn("dst_url", UrlCanon.canonicalUrl(col("__abs")))
        .filter(col("dst_url").isNotNull)
        .withColumn("__src_host", UrlCanon.canonicalHost(messyUrl(i)))
        .localCheckpoint() // feeds the link-grain AND token-grain aggs
      val linkAgg = anchors.groupBy("dst_url")
        .agg(count(lit(1)).as("n_links"),
          count_distinct(col("__src_host")).as("n_src_hosts"))
      val vocabAgg = anchors
        .select(col("dst_url"), explode(TextAnalysis.tokens(
          regexp_replace(col("__atext"), "</?[A-Za-z][^>]*>", " ")))
          .as("__tok"))
        .groupBy("dst_url")
        .agg(array_join(array_sort(collect_set(col("__tok"))), " ")
          .as("anchor_vocab"))
      linkAgg.join(vocabAgg, Seq("dst_url"))
    },
      // longest-prefix precedence mirrored with an explicit NULLS
      // ordering matching Spark's desc/asc defaults
      // anchor-text mirror: target canonical urls (true scheme/port
      // rule via the m*Sql helpers — the scheme-relative link's port
      // rule keys on the SOURCE page's scheme) and token sets all
      // arithmetic; grouping is the only SQL machinery
      {
        val c1 = s"(${mScmSql("t1")} || '://' || ${mHostCanSql("t1")} || " +
          s"${mPortCanSql("t1", mScmSql("t1"))} || ${mPathCanSql("t1")} || ${mQCanSql("t1")})"
        val c2 = s"(${mScmSql("i")} || '://' || ${mHostCanSql("t2")} || " +
          s"${mPortCanSql("t2", mScmSql("i"))} || ${mPathCanSql("t2")} || ${mQCanSql("t2")})"
        s"""WITH d AS (
           |  SELECT doc_id AS i, doc_id*(doc_id+3)+1 AS t1,
           |    doc_id*(doc_id+7)+5 AS t2
           |  FROM documents),
           |l AS (
           |  SELECT 'www.src' || CAST(i % 20 AS VARCHAR) || '.example.com' AS src_host,
           |    $c1 AS dst_url,
           |    ['go', 'page' || CAST(t1 % 50 AS VARCHAR), 'now'] AS toks
           |  FROM d
           |  UNION ALL
           |  SELECT 'www.src' || CAST(i % 20 AS VARCHAR) || '.example.com',
           |    $c2, ['visit', 'hub' || CAST(t2 % 20 AS VARCHAR)]
           |  FROM d),
           |a1 AS (
           |  SELECT dst_url, CAST(count(*) AS BIGINT) AS n_links,
           |    CAST(count(DISTINCT src_host) AS BIGINT) AS n_src_hosts
           |  FROM l GROUP BY 1),
           |tk AS (SELECT dst_url, unnest(toks) AS tok FROM l),
           |a2 AS (
           |  SELECT dst_url,
           |    array_to_string(list_sort(list(DISTINCT tok)), ' ') AS anchor_vocab
           |  FROM tk GROUP BY 1)
           |SELECT a1.dst_url, a1.n_links, a1.n_src_hosts, a2.anchor_vocab
           |FROM a1 JOIN a2 ON a1.dst_url = a2.dst_url""".stripMargin
      }),

    // ── rel=canonical OVERRIDE dedup (the SEO-declaration tier a real
    // crawl dedup runs before spelling dedup): pages declaring
    // <link rel="canonical" href=…> key on the DECLARED target —
    // attribute order varies, the href may be ROOT-RELATIVE (resolved
    // against the page), and declarations collapse whole query/port/
    // case spelling families onto one key; undeclared pages key on
    // themselves. Pure composition: element extraction → resolveUrl
    // (an ABSENT declaration extracts '' = the empty-reference class,
    // which resolves to the page itself — the fallback for free) →
    // the q215 urlDecisions keep rule. Oracle: effective keys derive
    // arithmetically per class. ──
    QuerySpec("q244_canonical_override", (s, dir) => {
      import graft.ext.UrlCanon
      val docs = t(s, dir, "documents")
      val i = col("doc_id")
      val declared =
        when(i % 12 === 8, concat(lit("<link href=\"/Docs/"),
          (i % 50).cast("string"), lit("\" rel=\"canonical\">")))
          .when(i % 6 === 2,
            concat(lit("<link rel=\"canonical\" href=\"http://www.src"),
              (i % 20).cast("string"), lit(".example.com/Docs/"),
              (i % 50).cast("string"), lit("\">")))
          .otherwise(lit(""))
      val pages = docs.select(i, messyUrl(i).as("url"),
        concat(lit("<html><head><title>t</title>"), declared,
          lit("</head><body><p>x</p></body></html>")).as("html"))
      val elem = regexp_extract(col("html"),
        "(?is)<link\\b[^>]*rel=\"canonical\"[^>]*>", 0)
      val declHref = regexp_extract(elem, "(?is)href=\"([^\"]*)\"", 1)
      val eff = pages.select(i,
        UrlCanon.resolveUrl(col("url"), declHref).as("url"))
      UrlCanon.urlDecisions(eff, "url", "doc_id")
        .select("doc_id", "canonical_url", "decision")
    },
      // canonical-override mirror: the effective key per declaration
      // class (declared absolute / declared root-relative with the
      // page's scheme / undeclared full canonical form) + the min-id
      // keep rule — all arithmetic
      {
        val i = "doc_id"
        val bs = mScmSql(i)
        val own = s"($bs || '://' || ${mHostCanSql(i)} || ${mPortCanSql(i, bs)} " +
          s"|| ${mPathCanSql(i)} || ${mQCanSql(i)})"
        s"""WITH e AS (
           |  SELECT doc_id, CASE
           |    WHEN doc_id % 12 = 8 THEN $bs || '://www.src'
           |      || CAST(doc_id % 20 AS VARCHAR) || '.example.com'
           |      || ${mPortCanSql(i, bs)} || '/Docs/'
           |      || CAST(doc_id % 50 AS VARCHAR)
           |    WHEN doc_id % 6 = 2 THEN 'http://www.src'
           |      || CAST(doc_id % 20 AS VARCHAR) || '.example.com/Docs/'
           |      || CAST(doc_id % 50 AS VARCHAR)
           |    ELSE $own END AS cu
           |  FROM documents),
           |k AS (SELECT cu, min(doc_id) AS keep FROM e GROUP BY 1)
           |SELECT e.doc_id, e.cu AS canonical_url,
           |  CASE WHEN e.doc_id = k.keep THEN 'kept' ELSE 'dup_url' END AS decision
           |FROM e JOIN k ON e.cu = k.cu""".stripMargin
      }),

    // ── robots.txt BODY parsing (UrlCanon.parseRobots): fetched
    // robots text → (host, prefix, allow) policy rows for one agent,
    // with RFC 9309 group structure live — multi-UA runs, a specific
    // mixed-case GraftBot group beating '*' on %4=0 hosts, a group
    // that never applies, comments on rule lines, empty-Disallow
    // no-ops, CRLF files. Oracle derives the expected rules
    // ARITHMETICALLY from the host index (independent truth). ──
    QuerySpec("q239_robots_parse", (s, dir) =>
      graft.ext.UrlCanon.parseRobots(
        robotsBodiesFixture(s), "host", "body", "graftbot"),
      // parsed-robots mirror (q239/q240): the expected policy rows
      // derive ARITHMETICALLY from the host index — nothing re-parses
      // the bodies, so a green hash certifies parseRobots' group/agent
      // SPEC (specific-beats-star, no-op lines, CRLF) against truth
      ("WITH " + RobotsParsedRulesSql + "\nSELECT host, prefix, allow FROM rl")),

    // ── the composed compliance pipeline: robots BODIES → parseRobots
    // → robotsDecide over the messy fetch log — q223 with the policy
    // table coming from TEXT instead of a pre-shaped fixture. On %4=0
    // hosts the specific graftbot group replaces the '*' rules (no '/'
    // allow, /private rules match no /Docs path), so those fetches
    // default-allow with NULL rule_prefix — live divergence from
    // q223. ──
    QuerySpec("q240_robots_pipeline", (s, dir) => {
      import graft.ext.UrlCanon
      val raw = urlFixture(t(s, dir, "documents")).drop("n_chars")
        .filter(UrlCanon.canonicalUrl(col("url")).isNotNull)
      val rules = UrlCanon.parseRobots(
        robotsBodiesFixture(s), "host", "body", "graftbot")
      UrlCanon.robotsDecide(raw, "doc_id", "url", rules)
    },
      // composed pipeline mirror: q223's longest-prefix decision chain
      // with the rules CTE swapped for the arithmetic parsed table
      (UrlCanonChainSql +
        """,
          |f AS (
          |  SELECT doc_id, url,
          |    lower(regexp_extract(auth, '^(?:[^@]*@)?([^:]*)', 1)) AS host,
          |    CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
          |         ELSE regexp_replace(rawpath, '/+$', '') END AS path
          |  FROM canon WHERE canonical_url IS NOT NULL),
          |""".stripMargin + RobotsParsedRulesSql +
        """,
          |m AS (
          |  SELECT f.doc_id, f.url, f.host, f.path, r.prefix, r.allow,
          |    row_number() OVER (PARTITION BY f.doc_id
          |      ORDER BY length(r.prefix) DESC NULLS LAST, r.prefix ASC NULLS FIRST,
          |        r.allow DESC NULLS LAST)
          |      AS rk
          |  FROM f LEFT JOIN rl r
          |    ON r.host = f.host AND starts_with(f.path, r.prefix))
          |SELECT doc_id, url, host, path, prefix AS rule_prefix,
          |  CASE WHEN coalesce(allow, TRUE) THEN 'allow' ELSE 'deny' END AS decision
          |FROM m WHERE rk = 1""".stripMargin)),

    // ── RECRAWL scheduling (UrlCanon.recrawlStats — Cho &
    // Garcia-Molina change-rate estimation, integer form): five
    // revisit rounds per URL with fingerprints that flip every
    // `period` rounds (period = 1 + id%4; %5=0 URLs never change), so
    // each URL's change count is CLOSED-FORM in its residues — hot
    // (period 1-2), warm (period 3-4), cold (static) all live. ──
    QuerySpec("q246_recrawl_schedule", (s, dir) =>
      graft.ext.UrlCanon.recrawlStats(
        recrawlFixture(t(s, dir, "documents")), "url", "r", "fp"),
      // recrawl mirror: change counts closed-form in the residues (the
      // version sequence r DIV p over r=1..5 steps 4/2/1/1 times for
      // p=1/2/3/4) — nothing re-walks the history; the streaming twin
      // q256 certifies against the SAME SQL (shared val — the
      // incremental fold must equal the batch window exactly)
      RecrawlSql),

    // ── STATEFUL streaming recrawl estimation (the q246 history as a
    // LIVE fetch feed): per-url state is O(1) — last fingerprint +
    // running counts — and the two delivery waves split MID-HISTORY
    // (rounds 1-2 | 3-5), so every period-1/2/3 url's round-2→3
    // change is detected only if the fingerprint state survived the
    // microbatch boundary. Certified against q246's oracle VERBATIM
    // (shared RecrawlSql); ppm/priority derive through the same
    // withRecrawlDerived code path as the batch operator. ──
    QuerySpec("q256_recrawl_stream", (s, dir) =>
      graft.streaming.StreamingReports.recrawlReplay(
        s, recrawlFixture(t(s, dir, "documents"))),
      RecrawlSql),

    // ── DELAY-AWARE fetch schedule (the full politeness loop closed):
    // the q229 round-robin composed with q245's parsed group-scoped
    // crawl delays — fetch_at_s = (host_rank−1)·delay, so slow hosts
    // spread out while fast hosts drain; hosts whose specific group
    // declares no delay default to 1 s. The delay table broadcasts
    // (tiny vs the frontier). ──
    QuerySpec("q247_delay_schedule", (s, dir) => {
      import graft.ext.UrlCanon
      val dec = UrlCanon.urlDecisions(
        urlFixture(t(s, dir, "documents")).drop("n_chars"), "url", "doc_id")
      val kept = dec.filter(col("decision") === "kept")
        .select(col("doc_id"), col("canonical_url"))
      val allowed = UrlCanon
        .robotsDecide(kept, "doc_id", "canonical_url", robotsRulesFixture(s))
        .filter(col("decision") === "allow")
        .select(col("doc_id"), col("host"))
      val budgeted = graft.operators.Sampling.sampleExactN(
        allowed, "host", col("doc_id"), n = 5, salt = "budget-v1")
      val sched = UrlCanon.politenessSchedule(budgeted, "host", "doc_id")
      val delays = UrlCanon.parseCrawlDelays(
        robotsBodiesFixture(s), "host", "body", "graftbot")
      sched.join(delays, Seq("host"), "left")
        .withColumn("crawl_delay_s", coalesce(col("crawl_delay_s"), lit(1L)))
        .withColumn("fetch_at_s",
          (col("host_rank") - 1) * col("crawl_delay_s"))
        .select("doc_id", "host", "host_rank", "fetch_seq",
          "crawl_delay_s", "fetch_at_s")
    },
      // delay-aware schedule mirror: q229's chain + the group-scoped
      // delay table (specific-group hosts default 1 s — their graftbot
      // group declares none), fetch_at_s = (rank-1)·delay
      (PolitenessChainSql +
        """,
          |dl AS (
          |  SELECT 'www.src' || CAST(i AS VARCHAR) || '.example.com' AS host,
          |    CAST(CASE WHEN i % 4 = 0 THEN 1 ELSE 2 + i % 7 END AS BIGINT)
          |      AS crawl_delay_s
          |  FROM ids)
          |SELECT hr.doc_id, hr.host, hr.host_rank,
          |  CAST(row_number() OVER (ORDER BY hr.host_rank, hr.host) AS BIGINT)
          |    AS fetch_seq,
          |  dl.crawl_delay_s,
          |  (hr.host_rank - 1) * dl.crawl_delay_s AS fetch_at_s
          |FROM hr JOIN dl ON dl.host = hr.host""".stripMargin)),

    // ── REGISTRABLE-DOMAIN budget (UrlCanon.registrableDomain + the
    // q217 exact-N draw at DOMAIN grain): per-host budgeting lets a
    // site multiply its crawl share by minting subdomains —
    // a0.shop.srcN.co.uk and www.srcN.co.uk are ONE registrant. Arms:
    // cc-SLD 3-label rule (%5=0), subdomain'd .com (%5=1) SHARING its
    // domain with the bare host arm (%5=2 — 10 fetches/domain vs
    // budget 5, so the cross-host collapse is what halves them), IPv4
    // literals budgeted per address (%5=3), single-label intranet
    // hosts (%5=4). Decision table: every fetch classified once. ──
    QuerySpec("q250_domain_budget", (s, dir) => {
      import graft.ext.UrlCanon
      val h = (col("doc_id") % 20).cast("string")
      val sub = (col("doc_id") % 3).cast("string")
      val host = when(col("doc_id") % 5 === 0,
          concat(lit("a"), sub, lit(".shop.src"), h, lit(".co.uk")))
        .when(col("doc_id") % 5 === 1,
          concat(lit("cdn"), sub, lit(".src"), h, lit(".com")))
        .when(col("doc_id") % 5 === 2, concat(lit("src"), h, lit(".com")))
        .when(col("doc_id") % 5 === 3,
          concat(lit("10.0."), h, lit("."), sub))
        .otherwise(concat(lit("intra"), h))
      val fetches = t(s, dir, "documents")
        .select(col("doc_id"), host.as("host"))
        .withColumn("domain", UrlCanon.registrableDomain(col("host")))
      val kept = graft.operators.Sampling.sampleExactN(
          fetches, "domain", col("doc_id"), n = 5, salt = "domain-v1")
        .select(col("doc_id"), lit(true).as("in_budget"))
      fetches.join(kept, Seq("doc_id"), "left")
        .withColumn("in_budget", coalesce(col("in_budget"), lit(false)))
    },
      // domain-budget mirror: the registrable domain is ARITHMETIC per
      // residue arm (independent truth for the 3-label cc-SLD rule, the
      // shared .com collapse, IP and single-label fallthroughs); the
      // draw is the certified sampleExactN md5-rank form at domain grain
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN 'a' || CAST(doc_id % 3 AS VARCHAR)
        |           || '.shop.src' || CAST(doc_id % 20 AS VARCHAR) || '.co.uk'
        |         WHEN doc_id % 5 = 1 THEN 'cdn' || CAST(doc_id % 3 AS VARCHAR)
        |           || '.src' || CAST(doc_id % 20 AS VARCHAR) || '.com'
        |         WHEN doc_id % 5 = 2 THEN 'src' || CAST(doc_id % 20 AS VARCHAR)
        |           || '.com'
        |         WHEN doc_id % 5 = 3 THEN '10.0.' || CAST(doc_id % 20 AS VARCHAR)
        |           || '.' || CAST(doc_id % 3 AS VARCHAR)
        |         ELSE 'intra' || CAST(doc_id % 20 AS VARCHAR) END AS host,
        |    CASE WHEN doc_id % 5 = 0 THEN 'src' || CAST(doc_id % 20 AS VARCHAR)
        |           || '.co.uk'
        |         WHEN doc_id % 5 IN (1, 2) THEN 'src' || CAST(doc_id % 20 AS VARCHAR)
        |           || '.com'
        |         WHEN doc_id % 5 = 3 THEN '10.0.' || CAST(doc_id % 20 AS VARCHAR)
        |           || '.' || CAST(doc_id % 3 AS VARCHAR)
        |         ELSE 'intra' || CAST(doc_id % 20 AS VARCHAR) END AS domain
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, host, domain,
        |    row_number() OVER (PARTITION BY domain
        |      ORDER BY substr(md5(concat_ws(':', 'domain-v1',
        |        CAST(doc_id AS VARCHAR))), 1, 8), doc_id) AS rk
        |  FROM f)
        |SELECT doc_id, host, domain, rk <= 5 AS in_budget FROM r""".stripMargin),

    // ── CONTENT-DRIFT magnitude (SimHash.contentDrift): the
    // companion to q246's exact-fingerprint change rate — per url,
    // simhash each revision and hamming CONSECUTIVE revisions. Arms:
    // %3=0 identical text (drift 0), %3=1 a four-token append per
    // round (a few shingles move — small hamming), %3=2 a per-round
    // vowel rotation (every shingle rewrites — large hamming,
    // drifting). ──
    QuerySpec("q252_content_drift", (s, dir) => {
      val docs = t(s, dir, "documents")
      val hist = docs
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1), lit(3))).as("r"))
        .select(col("doc_id"), col("r"),
          concat(lit("http://www.src"), (col("doc_id") % 20).cast("string"),
            lit(".example.com/Docs/"), col("doc_id").cast("string")).as("url"),
          when(col("doc_id") % 3 === 0, col("text"))
            .when(col("doc_id") % 3 === 1, concat(col("text"),
              lit(" minor update edition "), col("r").cast("string")))
            .when(col("r") === 1, translate(col("text"), "aeiou", "eioua"))
            .when(col("r") === 2, translate(col("text"), "aeiou", "iouae"))
            .otherwise(translate(col("text"), "aeiou", "ouaei")).as("t"))
      graft.ext.SimHash.contentDrift(hist, "url", "r", "t")
    },
      // content-drift mirror: the q21 engine-portable simhash chain
      // (md5-hex base-16 fold, sign-sum bits) at (doc_id, r) grain,
      // then lag + bit_count(xor) per url
      """WITH hist AS (
        |  SELECT doc_id, r,
        |    CASE WHEN doc_id % 3 = 0 THEN text
        |         WHEN doc_id % 3 = 1 THEN text || ' minor update edition '
        |           || CAST(r AS VARCHAR)
        |         WHEN r = 1 THEN translate(text, 'aeiou', 'eioua')
        |         WHEN r = 2 THEN translate(text, 'aeiou', 'iouae')
        |         ELSE translate(text, 'aeiou', 'ouaei') END AS t
        |  FROM documents CROSS JOIN range(1, 4) rr(r)),
        |tok AS (
        |  SELECT doc_id, r,
        |    unnest(regexp_extract_all(lower(t), '[a-z0-9]+')) AS tok,
        |    generate_subscripts(regexp_extract_all(lower(t), '[a-z0-9]+'), 1)
        |      AS pos
        |  FROM hist),
        |sh AS (
        |  SELECT DISTINCT doc_id, r,
        |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
        |      AS shingle
        |  FROM tok WINDOW w AS (PARTITION BY doc_id, r ORDER BY pos)
        |  QUALIFY lead(tok, 2) OVER w IS NOT NULL),
        |h AS (
        |  SELECT doc_id, r, list_reduce(list_transform(range(1, 13),
        |    i -> CAST(CASE WHEN ascii(substr(md5(shingle), i, 1)) <= 57
        |              THEN ascii(substr(md5(shingle), i, 1)) - 48
        |              ELSE ascii(substr(md5(shingle), i, 1)) - 87 END AS BIGINT)),
        |    (a, b) -> a * 16 + b) AS h48
        |  FROM sh),
        |bits AS (
        |  SELECT doc_id, r, j,
        |    CASE WHEN sum(2 * ((h48 // CAST(pow(2, j) AS BIGINT)) % 2) - 1) > 0
        |         THEN 1 ELSE 0 END AS bit
        |  FROM h CROSS JOIN range(0, 48) t(j) GROUP BY 1, 2, 3),
        |sig AS (
        |  SELECT doc_id, r,
        |    CAST(sum(bit * CAST(pow(2, j) AS BIGINT)) AS BIGINT) AS v
        |  FROM bits GROUP BY 1, 2),
        |dr AS (
        |  SELECT doc_id, r, v,
        |    lag(v) OVER (PARTITION BY doc_id ORDER BY r) AS pv
        |  FROM sig),
        |roll AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_revisions,
        |    CAST(coalesce(sum(CASE WHEN pv IS NOT NULL
        |      THEN bit_count(xor(v, pv)) END), 0) AS BIGINT) AS total_drift,
        |    CAST(coalesce(max(CASE WHEN pv IS NOT NULL
        |      THEN bit_count(xor(v, pv)) END), 0) AS BIGINT) AS max_drift
        |  FROM dr GROUP BY 1)
        |SELECT 'http://www.src' || CAST(doc_id % 20 AS VARCHAR)
        |    || '.example.com/Docs/' || CAST(doc_id AS VARCHAR) AS url,
        |  n_revisions, total_drift, max_drift,
        |  max_drift >= 12 AS drifting
        |FROM roll""".stripMargin),

    // ── CACHE-FRESHNESS planning (HttpRecord.cachePlan — RFC 9111):
    // the server-declared TTL feed for recrawl scheduling. Six arms,
    // all closed-form: max-age arithmetic (%6=0), no-store beating a
    // max-age in the same header (%6=1 — precedence live, plus a
    // junk 'Expires: 0' proving garbled dates degrade, never throw),
    // no-cache (%6=2), Expires−Date with the clock pinned so the TTL
    // is pure HH:MM arithmetic (%12=3) and a PAST Expires clamping to
    // 0 (%12=9), the RFC heuristic 10% of Date−Last-Modified (%6=4),
    // and a header-bare 404 routing none (%6=5). The oracle computes
    // every TTL from doc_id residues — the whole IMF-fixdate parse
    // path is certified against independent truth, not a mirrored
    // strptime. ──
    QuerySpec("q253_cache_policy", (s, dir) =>
      graft.ext.HttpRecord.cachePlan(
        cacheRawFixture(t(s, dir, "documents")), "doc_id", "raw"),
      // cache-policy mirror: FULLY closed-form — every mode and TTL is
      // doc_id arithmetic, so the IMF-fixdate parse path (day-name
      // strip, try_to_timestamp, epoch subtraction, the 10% heuristic
      // integer divide) is certified against independent truth
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 6 = 5 THEN 404 ELSE 200 END AS INT)
        |    AS status,
        |  CASE WHEN doc_id % 6 = 0 THEN 'max_age'
        |       WHEN doc_id % 6 = 1 THEN 'no_store'
        |       WHEN doc_id % 6 = 2 THEN 'no_cache'
        |       WHEN doc_id % 6 = 3 THEN 'expires'
        |       WHEN doc_id % 6 = 4 THEN 'heuristic'
        |       ELSE 'none' END AS mode,
        |  CAST(CASE WHEN doc_id % 6 = 0 THEN (doc_id % 97) * 10
        |       WHEN doc_id % 12 = 3
        |         THEN (doc_id % 10) * 3600 + (10 + doc_id % 50) * 60
        |       WHEN doc_id % 6 = 4 THEN (24 - doc_id % 24) * 360
        |       ELSE 0 END AS BIGINT) AS ttl_s
        |FROM documents""".stripMargin),

    // ── REFRESH-PLAN capstone: the two recrawl signals joined — the
    // server's declared freshness (q253 cachePlan TTL) and the
    // crawler's OBSERVED change rate (q246 recrawlStats priority) —
    // into one due-interval per url on a 60 s fetch cadence:
    // `due_in_m = greatest(ttl DIV 60, priority interval 1/4/24, 1)`
    // — trust the server when it promises longer freshness than the
    // change history suggests, never refetch faster than the cadence.
    // Both fixtures key on doc_id, so every output value is
    // closed-form across BOTH residue families (mode × priority
    // combinations live). Shape: one broadcast-sized keyed join at
    // url grain — at 100 TB both sides are url-grain tables, the join
    // shuffles on the key it is stored by. ──
    QuerySpec("q257_refresh_plan", (s, dir) => {
      val docs = t(s, dir, "documents")
      val rc = graft.ext.UrlCanon.recrawlStats(
        recrawlFixture(docs), "url", "r", "fp")
      val cp = graft.ext.HttpRecord.cachePlan(
          cacheRawFixture(docs), "doc_id", "raw")
        .select(
          concat(lit("http://www.src"), (col("doc_id") % 20).cast("string"),
            lit(".example.com/Docs/"), col("doc_id").cast("string")).as("url"),
          col("mode"), col("ttl_s"))
      val ttlM = expr("CAST(ttl_s DIV 60 AS BIGINT)")
      val priM = when(col("priority") === "hot", lit(1L))
        .when(col("priority") === "warm", lit(4L)).otherwise(lit(24L))
      rc.join(cp, Seq("url"))
        .select(col("url"), col("priority"), col("mode"), col("ttl_s"),
          greatest(ttlM, priM, lit(1L)).as("due_in_m"))
    },
      // refresh-plan mirror: both residue families recombined in pure
      // arithmetic — priority from the q246 change counts, mode/TTL
      // from the q253 header arms, due_in_m the greatest of the three
      """SELECT url, priority, mode, ttl_s,
        |  CAST(greatest(ttl_s // 60, pri, 1) AS BIGINT) AS due_in_m
        |FROM (
        |  SELECT
        |    'http://www.src' || CAST(doc_id % 20 AS VARCHAR)
        |      || '.example.com/Docs/' || CAST(doc_id AS VARCHAR) AS url,
        |    CASE WHEN ch * 1000000 // 4 >= 500000 THEN 'hot'
        |         WHEN ch > 0 THEN 'warm' ELSE 'cold' END AS priority,
        |    CASE WHEN ch * 1000000 // 4 >= 500000 THEN 1
        |         WHEN ch > 0 THEN 4 ELSE 24 END AS pri,
        |    CASE WHEN doc_id % 6 = 0 THEN 'max_age'
        |         WHEN doc_id % 6 = 1 THEN 'no_store'
        |         WHEN doc_id % 6 = 2 THEN 'no_cache'
        |         WHEN doc_id % 6 = 3 THEN 'expires'
        |         WHEN doc_id % 6 = 4 THEN 'heuristic'
        |         ELSE 'none' END AS mode,
        |    CAST(CASE WHEN doc_id % 6 = 0 THEN (doc_id % 97) * 10
        |         WHEN doc_id % 12 = 3
        |           THEN (doc_id % 10) * 3600 + (10 + doc_id % 50) * 60
        |         WHEN doc_id % 6 = 4 THEN (24 - doc_id % 24) * 360
        |         ELSE 0 END AS BIGINT) AS ttl_s
        |  FROM (SELECT doc_id,
        |      CASE WHEN doc_id % 5 = 0 THEN 0
        |           WHEN doc_id % 4 = 0 THEN 4
        |           WHEN doc_id % 4 = 1 THEN 2
        |           ELSE 1 END AS ch
        |    FROM documents) c) t""".stripMargin),

    // ── RETRY/BACKOFF planning (HttpRecord.retryBackoff): the failure
    // half of politeness. One host per doc; attempt histories whose
    // trailing-failure streaks are closed-form: all-green (%10=0),
    // early failures RECOVERED by a green tail (%10=5 — streak must
    // read 0), Retry-After honored from the LATEST response only
    // (%5=1; %5=2 plants a DECOY Retry-After on a non-latest attempt
    // and must fall back to exponential 5·2^2), a 404/malformed
    // alternating streak of 6 (%5=3 — exp caps at 5·2^5), and a
    // 9-attempt all-503 host crossing giveUpAt=8 into gave_up (%5=4).
    // ──
    QuerySpec("q254_retry_backoff", (s, dir) => {
      val id = col("doc_id")
      val hist = t(s, dir, "documents").select(id,
          explode(sequence(lit(1),
            when(id % 5 === 4, lit(9)).otherwise(lit(6)))).as("r"))
      val rr = col("r")
      val statusLine = when(id % 10 === 0, lit("HTTP/1.1 200 OK"))
        .when(id % 10 === 5,
          when(rr <= 2, lit("HTTP/1.1 503 Service Unavailable"))
            .otherwise(lit("HTTP/1.1 200 OK")))
        .when(id % 5 === 1 || id % 5 === 2,
          when(rr <= 3, lit("HTTP/1.1 200 OK"))
            .otherwise(lit("HTTP/1.1 503 Service Unavailable")))
        .when(id % 5 === 3,
          when(rr % 2 === 0, lit("HTTP/1.1 404 Not Found"))
            .otherwise(lit("GARBAGE")))
        .otherwise(lit("HTTP/1.1 503 Service Unavailable"))
      val raLine = when(id % 5 === 1 && rr === 6,
          concat(lit("\r\nRetry-After: "), (lit(10) + id % 50).cast("string")))
        .when(id % 5 === 2 && rr === 4, lit("\r\nRetry-After: 999"))
        .otherwise(lit(""))
      val raw = concat(statusLine, raLine,
        lit("\r\nContent-Type: text/html\r\n\r\nx"))
      graft.ext.HttpRecord.retryBackoff(
        hist.select(
          concat(lit("www.h"), id.cast("string"), lit(".example.com"))
            .as("host"),
          rr.cast("long").as("attempt"), raw.as("raw")),
        "host", "attempt", "raw")
    },
      // retry-backoff mirror: streaks, states and delays all residue
      // arithmetic — the latest-only Retry-After rule is certified by
      // the %5=2 decoy (a non-latest Retry-After: 999 must NOT surface)
      """SELECT 'www.h' || CAST(doc_id AS VARCHAR) || '.example.com' AS host,
        |  CAST(CASE WHEN doc_id % 5 = 4 THEN 9 ELSE 6 END AS BIGINT)
        |    AS n_attempts,
        |  CAST(CASE WHEN doc_id % 5 = 0 THEN 200
        |       WHEN doc_id % 5 = 3 THEN 404 ELSE 503 END AS INT)
        |    AS last_status,
        |  CAST(CASE WHEN doc_id % 5 = 0 THEN 0
        |       WHEN doc_id % 5 IN (1, 2) THEN 3
        |       WHEN doc_id % 5 = 3 THEN 6 ELSE 9 END AS BIGINT)
        |    AS consec_failures,
        |  CASE WHEN doc_id % 5 = 0 THEN 'ok'
        |       WHEN doc_id % 5 = 4 THEN 'gave_up'
        |       ELSE 'backoff' END AS state,
        |  CAST(CASE WHEN doc_id % 5 = 0 THEN 0
        |       WHEN doc_id % 5 = 1 THEN 10 + doc_id % 50
        |       WHEN doc_id % 5 = 2 THEN 20
        |       WHEN doc_id % 5 = 3 THEN 160
        |       ELSE -1 END AS BIGINT) AS next_delay_s
        |FROM documents""".stripMargin),

    // ── CRAWL-TRAP detection (UrlCanon.crawlTrapStats): per (host,
    // first-path-segment) family — distinct urls, max depth, distinct
    // query-param keys, integer mean length, and the trap rule.
    // Quadratic formulas spread the value space (the q220 lesson —
    // linear residues make degenerate regular structures). Arms: a
    // 4-deep calendar family (trap by depth), a /search family
    // minting f0-f8 × g0-g3 param keys (trap by params), a big flat
    // /Docs family that PASSES the n_urls bar but fails both signals
    // (certifies the AND), and a 1-url /about family under the bar.
    // Oracle: DuckDB regenerates the url set from the residue
    // formulas and aggregates INDEPENDENTLY — counts, max, distinct
    // all recomputed, nothing mirrored from the operator's regexes. ──
    QuerySpec("q255_crawl_traps", (s, dir) => {
      val id = col("doc_id")
      val host = concat(lit("http://www.src"), (id % 10).cast("string"),
        lit(".example.com"))
      val url = when(id % 4 === 0, concat(host, lit("/cal/"),
          (lit(2000) + (id * (id + 3) + 1) % 26).cast("string"), lit("/"),
          ((id * (id + 7) + 5) % 12).cast("string"), lit("/"),
          ((id * (id + 11) + 3) % 28).cast("string")))
        .when(id % 4 === 1, concat(host, lit("/search?f"),
          ((id * (id + 5) + 2) % 9).cast("string"), lit("="),
          (id % 3).cast("string"), lit("&g"),
          ((id * (id + 13) + 7) % 4).cast("string"), lit("=1")))
        .when(id % 4 === 2, concat(host, lit("/Docs/"),
          ((id * (id + 9) + 7) % 40).cast("string")))
        .otherwise(concat(host, lit("/about")))
      graft.ext.UrlCanon.crawlTrapStats(
        t(s, dir, "documents").select(url.as("url")), "url",
        minUrls = 10L, deepAt = 4L, paramAt = 4L)
    },
      // crawl-trap mirror: the url set regenerates from the residue
      // formulas, then DuckDB aggregates INDEPENDENTLY (distinct counts,
      // max depth, distinct param keys, integer mean) — the operator's
      // regex extraction chain is certified against a regex-free rebuild
      """WITH u AS (
        |  SELECT DISTINCT
        |    'www.src' || CAST(doc_id % 10 AS VARCHAR) || '.example.com'
        |      AS host,
        |    CASE doc_id % 4 WHEN 0 THEN 'cal' WHEN 1 THEN 'search'
        |      WHEN 2 THEN 'Docs' ELSE 'about' END AS family,
        |    CASE doc_id % 4
        |      WHEN 0 THEN '/cal/'
        |        || CAST(2000 + (doc_id * (doc_id + 3) + 1) % 26 AS VARCHAR)
        |        || '/' || CAST((doc_id * (doc_id + 7) + 5) % 12 AS VARCHAR)
        |        || '/' || CAST((doc_id * (doc_id + 11) + 3) % 28 AS VARCHAR)
        |      WHEN 1 THEN '/search?f'
        |        || CAST((doc_id * (doc_id + 5) + 2) % 9 AS VARCHAR)
        |        || '=' || CAST(doc_id % 3 AS VARCHAR)
        |        || '&g' || CAST((doc_id * (doc_id + 13) + 7) % 4 AS VARCHAR)
        |        || '=1'
        |      WHEN 2 THEN '/Docs/'
        |        || CAST((doc_id * (doc_id + 9) + 7) % 40 AS VARCHAR)
        |      ELSE '/about' END AS pq,
        |    CASE doc_id % 4 WHEN 0 THEN 4 WHEN 2 THEN 2 ELSE 1 END AS d,
        |    CASE WHEN doc_id % 4 = 1 THEN
        |      ['f' || CAST((doc_id * (doc_id + 5) + 2) % 9 AS VARCHAR),
        |       'g' || CAST((doc_id * (doc_id + 13) + 7) % 4 AS VARCHAR)]
        |      ELSE [] END AS pkeys
        |  FROM documents),
        |b AS (
        |  SELECT host, family, CAST(count(*) AS BIGINT) AS n_urls,
        |    CAST(max(d) AS BIGINT) AS max_depth,
        |    CAST(sum(length('http://' || host || pq))
        |      // count(*) AS BIGINT) AS avg_len
        |  FROM u GROUP BY 1, 2),
        |p AS (
        |  SELECT host, family,
        |    CAST(count(DISTINCT k) AS BIGINT) AS n_param_keys
        |  FROM (SELECT host, family, unnest(pkeys) AS k FROM u)
        |  GROUP BY 1, 2)
        |SELECT b.host, b.family, b.n_urls, b.max_depth,
        |  coalesce(p.n_param_keys, 0) AS n_param_keys, b.avg_len,
        |  b.n_urls >= 10 AND (b.max_depth >= 4
        |    OR coalesce(p.n_param_keys, 0) >= 4) AS is_trap
        |FROM b LEFT JOIN p ON b.host = p.host AND b.family = p.family""".stripMargin),

    // ── priority frontier scheduling (UrlCanon.priorityFrontier
    // Schedule): politeness slots × host authority — one URL per host
    // per slot, higher-PageRank hosts first within the slot.
    // Quadratic-residue authorities ((n²)%23 over 20 hosts) carry
    // real ties, making the host-asc tie-break load-bearing; host 13
    // is withheld from the ranks table so the authority-0 cold-host
    // route is live. Oracle re-derives both enumerations as plain
    // windows — independent truth for the distributed prefix-sum. ──
    QuerySpec("q276_frontier_rank", (s, dir) => {
      val id = col("doc_id")
      val n = id % 20
      val frontier = t(s, dir, "documents").select(id).repartition(32)
        .select(
          concat(lit("h"), n.cast("string")).as("host"),
          concat(lit("http://h"), n.cast("string"), lit("/d/"),
            id.cast("string")).as("url"))
      val ranks = s.range(0, 20).filter(col("id") =!= 13)
        .select(concat(lit("h"), col("id").cast("string")).as("host"),
          ((col("id") * col("id")) % 23).cast("long").as("rank"))
      graft.ext.UrlCanon.priorityFrontierSchedule(
        frontier, "host", "url", ranks, "rank")
    },
      // frontier-rank mirror: both enumerations as plain windows; host
      // 13's authority coalesces to 0 (withheld from the ranks table)
      """WITH u AS (
        |  SELECT doc_id, doc_id % 20 AS n,
        |    'h' || CAST(doc_id % 20 AS VARCHAR) AS host,
        |    'http://h' || CAST(doc_id % 20 AS VARCHAR) || '/d/'
        |      || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |sl AS (
        |  SELECT host, url,
        |    CASE WHEN n = 13 THEN 0 ELSE (n * n) % 23 END AS authority,
        |    row_number() OVER (PARTITION BY host ORDER BY url) AS slot
        |  FROM u)
        |SELECT host, url, CAST(slot AS BIGINT) AS slot,
        |  CAST(authority AS BIGINT) AS authority,
        |  CAST(row_number() OVER (ORDER BY slot, authority DESC,
        |    host, url) AS BIGINT) AS fetch_seq
        |FROM sl""".stripMargin),

    // ── PAGE-level robots directives (HtmlExtract.robotsMeta — the
    // <meta name=robots> protocol completing UrlCanon's SITE-level
    // robots.txt family; real crawlers honor both): noindex drops
    // the page content from the corpus, nofollow drops its links
    // from the graph. Arms (doc_id % 9): 0 no meta, 1 noindex, 2
    // nofollow, 3 'noindex, nofollow', 4 'none' (≡ both), 5
    // UPPERCASE + single quotes, 6 content-before-name attribute
    // order, 7 a bot-SPECIFIC meta (googlebot) that a generic
    // crawler must IGNORE, 8 explicit 'index, follow' no-ops. The
    // nofollow EFFECT is live: each page plants two links and
    // n_links_kept must zero out exactly on the nofollow arms.
    // Oracle: closed-form per arm (the fetch-classes discipline —
    // arms are disjoint, no regex mirror needed). ──
    QuerySpec("q337_robots_meta", (s, dir) => {
      import graft.ext.HtmlExtract
      val id = col("doc_id")
      val a = id % 9
      val docs = t(s, dir, "documents").select(id).repartition(32, id)
      val meta =
        when(a === 1, lit("<meta name=\"robots\" content=\"noindex\">"))
          .when(a === 2, lit("<meta name=\"robots\" content=\"nofollow\">"))
          .when(a === 3,
            lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
          .when(a === 4, lit("<meta name=\"robots\" content=\"none\">"))
          .when(a === 5, lit("<META NAME='ROBOTS' CONTENT='NOINDEX'>"))
          .when(a === 6, lit("<meta content=\"nofollow\" name=\"robots\">"))
          .when(a === 7, lit("<meta name=\"googlebot\" content=\"noindex\">"))
          .when(a === 8, lit("<meta name=\"robots\" content=\"index, follow\">"))
          .otherwise(lit(""))
      val html = concat(lit("<html><head>"), meta,
        lit("</head><body><p>Doc "), id.cast("string"),
        lit("</p><a href=\"http://ex.com/x\">x</a>" +
          "<a href=\"http://ex.com/y\">y</a></body></html>"))
      val staged = docs.select(id,
        explode_outer(array(struct(
          HtmlExtract.robotsMeta(html).as("rm"),
          size(regexp_extract_all(html, lit("href=\"([^\"]*)\""), lit(1)))
            .as("__nl")))).as("m"))
        .select(id, col("m.rm.noindex").as("noindex"),
          col("m.rm.nofollow").as("nofollow"), col("m.__nl").as("__nl"))
      staged.select(id, col("noindex"), col("nofollow"),
        when(col("noindex"), lit("drop_content"))
          .when(col("nofollow"), lit("keep_content_drop_links"))
          .otherwise(lit("keep")).as("decision"),
        when(col("nofollow"), lit(0))
          .otherwise(col("__nl")).cast("long").as("n_links_kept"))
    },
      // robots-meta mirror: closed-form per arm (arms are disjoint —
      // the fetch-classes discipline, no regex mirror needed); noindex
      // arms 1/3/4/5, nofollow arms 2/3/4/6, two links per page
      """SELECT doc_id,
        |  doc_id % 9 IN (1, 3, 4, 5) AS noindex,
        |  doc_id % 9 IN (2, 3, 4, 6) AS nofollow,
        |  CASE WHEN doc_id % 9 IN (1, 3, 4, 5) THEN 'drop_content'
        |       WHEN doc_id % 9 IN (2, 6) THEN 'keep_content_drop_links'
        |       ELSE 'keep' END AS decision,
        |  CAST(CASE WHEN doc_id % 9 IN (2, 3, 4, 6) THEN 0 ELSE 2 END
        |    AS BIGINT) AS n_links_kept
        |FROM documents""".stripMargin),

    // ── the ROBOTS POLICY STACK capstone (q346): all three
    // certified robots levels in ONE decision chain — robots.txt
    // gates the SITE (q223's longest-prefix decide over the messy-URL
    // fixture), X-Robots-Tag the RESPONSE and meta robots the PAGE
    // (q339's unioned directives, arms doc_id % 8) — ranked
    // blocked_robots > drop_content (noindex) >
    // keep_content_drop_links (nofollow) > keep, with the link
    // effect live (denied and nofollow rows keep 0 of their 2
    // links). The replay fetches everything and RANKS the classes
    // (the q318 rule — production would never fetch a denied URL).
    // Oracle: the shared RobotsDecideCtes + q339's closed-form
    // directive arms under the one precedence CASE. ──
    QuerySpec("q346_robots_policy_stack", (s, dir) => {
      import graft.ext.{HtmlExtract, HttpRecord, UrlCanon}
      val id = col("doc_id")
      val a = id % 8
      val docs0 = t(s, dir, "documents")
      val raw = urlFixture(docs0).drop("n_chars")
        .filter(UrlCanon.canonicalUrl(col("url")).isNotNull)
      val site = UrlCanon.robotsDecide(raw, "doc_id", "url",
          robotsRulesFixture(s))
        .select(id, col("decision").as("__rdec"))
      // the q339 response fixture verbatim: header+meta directive arms
      val metaTag =
        when(a === 5 || a === 6,
          lit("<meta name=\"robots\" content=\"noindex\">"))
          .otherwise(lit(""))
      val html = concat(lit("<html><head>"), metaTag,
        lit("</head><body><a href=\"http://ex.com/x\">x</a>" +
          "<a href=\"http://ex.com/y\">y</a></body></html>"))
      val hdr =
        when(a === 1, lit("X-Robots-Tag: noindex\r\n"))
          .when(a === 2, lit("X-Robots-Tag: nofollow\r\n"))
          .when(a === 3, lit("X-Robots-Tag: none\r\n"))
          .when(a === 4, lit("X-Robots-Tag: googlebot: noindex\r\n"))
          .when(a === 6, lit("X-Robots-Tag: nofollow\r\n"))
          .when(a === 7, lit("X-Robots-Tag: NOINDEX\r\n"))
          .otherwise(lit(""))
      val rawResp = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"),
        hdr, lit("\r\n"), html)
      val page = docs0.select(id).repartition(32, id)
        .select(id, explode_outer(array(struct(
          HtmlExtract.robotsHeader(HttpRecord.header(rawResp, "X-Robots-Tag"))
            .as("h"),
          HtmlExtract.robotsMeta(HttpRecord.body(rawResp)).as("m"),
          size(regexp_extract_all(HttpRecord.body(rawResp),
            lit("href=\"([^\"]*)\""), lit(1))).as("__nl")))).as("x"))
        .select(id,
          (col("x.h.noindex") || col("x.m.noindex")).as("__noindex"),
          (col("x.h.nofollow") || col("x.m.nofollow")).as("__nofollow"),
          col("x.__nl").as("__nl"))
      site.join(page, Seq("doc_id"))
        .select(id,
          when(col("__rdec") === "deny", lit("blocked_robots"))
            .when(col("__noindex"), lit("drop_content"))
            .when(col("__nofollow"), lit("keep_content_drop_links"))
            .otherwise(lit("keep")).as("decision"),
          when(col("__rdec") === "deny" || col("__nofollow"), lit(0))
            .otherwise(col("__nl")).cast("long").as("n_links_kept"))
    },
      // policy-stack mirror: the shared robotsDecide CTEs + q339's
      // closed-form directive arms under one precedence CASE
      (RobotsDecideCtes +
        """,
          |rd AS (
          |  SELECT doc_id,
          |    CASE WHEN coalesce(allow, TRUE) THEN 'allow' ELSE 'deny' END
          |      AS rdec
          |  FROM m WHERE rk = 1)
          |SELECT rd.doc_id,
          |  CASE WHEN rd.rdec = 'deny' THEN 'blocked_robots'
          |       WHEN rd.doc_id % 8 IN (1, 3, 5, 6, 7) THEN 'drop_content'
          |       WHEN rd.doc_id % 8 = 2 THEN 'keep_content_drop_links'
          |       ELSE 'keep' END AS decision,
          |  CAST(CASE WHEN rd.rdec = 'deny' OR rd.doc_id % 8 IN (2, 3, 6)
          |       THEN 0 ELSE 2 END AS BIGINT) AS n_links_kept
          |FROM rd""".stripMargin)),

    // ── X-Robots-Tag — the RESPONSE level of the robots protocol
    // (HtmlExtract.robotsHeader; the three-level story complete:
    // robots.txt gates the site q223/q239, this header the response,
    // robotsMeta the page q337 — restrictions UNION, the documented
    // conservative combination, live on arm 6 where the header says
    // nofollow and the meta says noindex and BOTH must hold). Arms
    // (doc_id % 8): 0 neither, 1 header noindex, 2 header nofollow,
    // 3 header 'none', 4 bot-SCOPED header (googlebot: noindex — a
    // generic crawler ignores the whole value), 5 meta-only noindex
    // (the meta leg live through the HTTP framing), 6 the union arm,
    // 7 uppercase NOINDEX. Headers ride real HTTP record framing
    // (HttpRecord.header/body). Closed-form oracle. ──
    QuerySpec("q339_xrobots_header", (s, dir) => {
      import graft.ext.{HtmlExtract, HttpRecord}
      val id = col("doc_id")
      val a = id % 8
      val docs = t(s, dir, "documents").select(id).repartition(32, id)
      val metaTag =
        when(a === 5 || a === 6,
          lit("<meta name=\"robots\" content=\"noindex\">"))
          .otherwise(lit(""))
      val html = concat(lit("<html><head>"), metaTag,
        lit("</head><body><a href=\"http://ex.com/x\">x</a>" +
          "<a href=\"http://ex.com/y\">y</a></body></html>"))
      val hdr =
        when(a === 1, lit("X-Robots-Tag: noindex\r\n"))
          .when(a === 2, lit("X-Robots-Tag: nofollow\r\n"))
          .when(a === 3, lit("X-Robots-Tag: none\r\n"))
          .when(a === 4, lit("X-Robots-Tag: googlebot: noindex\r\n"))
          .when(a === 6, lit("X-Robots-Tag: nofollow\r\n"))
          .when(a === 7, lit("X-Robots-Tag: NOINDEX\r\n"))
          .otherwise(lit(""))
      val raw = concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"),
        hdr, lit("\r\n"), html)
      val staged = docs.select(id,
        explode_outer(array(struct(
          HtmlExtract.robotsHeader(HttpRecord.header(raw, "X-Robots-Tag"))
            .as("h"),
          HtmlExtract.robotsMeta(HttpRecord.body(raw)).as("m"),
          size(regexp_extract_all(HttpRecord.body(raw),
            lit("href=\"([^\"]*)\""), lit(1))).as("__nl")))).as("x"))
        .select(id,
          (col("x.h.noindex") || col("x.m.noindex")).as("noindex"),
          (col("x.h.nofollow") || col("x.m.nofollow")).as("nofollow"),
          col("x.__nl").as("__nl"))
      staged.select(id, col("noindex"), col("nofollow"),
        when(col("noindex"), lit("drop_content"))
          .when(col("nofollow"), lit("keep_content_drop_links"))
          .otherwise(lit("keep")).as("decision"),
        when(col("nofollow"), lit(0))
          .otherwise(col("__nl")).cast("long").as("n_links_kept"))
    },
      // x-robots mirror: closed-form per arm; noindex arms 1/3/5/6/7
      // (6 via the meta half of the union), nofollow arms 2/3/6 (6 via
      // the header half), the bot-scoped arm 4 ignored
      """SELECT doc_id,
        |  doc_id % 8 IN (1, 3, 5, 6, 7) AS noindex,
        |  doc_id % 8 IN (2, 3, 6) AS nofollow,
        |  CASE WHEN doc_id % 8 IN (1, 3, 5, 6, 7) THEN 'drop_content'
        |       WHEN doc_id % 8 = 2 THEN 'keep_content_drop_links'
        |       ELSE 'keep' END AS decision,
        |  CAST(CASE WHEN doc_id % 8 IN (2, 3, 6) THEN 0 ELSE 2 END
        |    AS BIGINT) AS n_links_kept
        |FROM documents""".stripMargin),

    // ── the BYTES-GRADE INTAKE CAPSTONE (round-15 forward item #1):
    // q312's WARC fetch corpus composed into q234's intake decision
    // table — ONE certified chain from raw archive bytes to the kept
    // training slice, proving the whole ingestion pipeline coheres
    // from bytes. Stages: frontier (q213/q215 URL canon + dup-URL
    // drop) → WARC split (q312 framing: 8 HTTP responses per archive,
    // latin-1 bridge, Content-Length slicing) → FetchDecode's total
    // bytes→text table (q308) → main-content extraction (q226) →
    // language gate → LM quality gate (q228) → EXACT CONTENT DEDUP
    // (Dedup.exactDedup on the extracted main text). Precedence:
    // bad_url/dup_url (frontier — never fetched in production; the
    // replay fetches everything and ranks the classes) > the six
    // fetch classes > wrong_language > low_quality > dup_content >
    // kept. Fetch arms (doc_id % 12): 1 no status line (malformed),
    // 2 404, 3 chunked TE (bad_encoding), 4 wrong media type, 5
    // corrupt gzip (bad_inflate), 6 declared utf-7 (bad_charset); ok
    // arms carry gzip(cp1252(html)) with a CONSTANT page shell (the
    // capstone certifies composition — q226's hostile-HTML arms are
    // certified standalone) and content arms: 7 a SHARED text (doc
    // 1's — in the LM training slice and en/und at every SF, so the
    // dedup stage is provably non-vacuous), 8 the EsGarble prefix
    // (wrong_language), 9 reversed text (all-unseen bigrams →
    // low_quality). The cp1252 é byte rides INSIDE an HTML comment:
    // the legacy-charset decode leg runs on real non-ASCII bytes,
    // then extraction strips it, keeping main_text ASCII so the
    // oracle's ASCII tokenizer spelling stays exact (the q234 rule).
    // The oracle reuses q234's URL/lang/LM mirrors and q226's
    // extraction CTEs verbatim; fetch classes are closed-form. ──
    QuerySpec("q318_bytes_intake", (s, dir) =>
      bytesIntakeChain(s, dir, damageGate = false),
      // bytes-grade intake capstone: q234's URL mirror (k/dec CTEs
      // verbatim) + closed-form fetch classes per arm + q226's
      // extraction CTEs over the constant page shell (the é rides in a
      // comment and is stripped) + q234's lang/LM mirrors verbatim +
      // the content-dedup keeper draw, composed under the one
      // precedence CASE
      bytesIntakeOracleSql(damage = false)),

    // ── the intake capstone WITH THE MOJIBAKE GATE LIVE (round-15
    // forward item #7 closed): q309's encodingDamage detector joins
    // q318's decision table as a quarantine class — the lenient
    // declared-charset decode legs ADMIT damage by design (a wrong
    // declaration mints moji pairs / U+FFFD instead of killing the
    // record), and this gate is WHY that is safe. New arm (doc_id %
    // 12 = 10): the page body is the html's UTF-8 bytes declared —
    // and leniently decoded — as windows-1252, so each planted é
    // surfaces as the Ã© double-encode signature in main_text (3
    // pairs ≥ the 2-pair floor); precedence ranks encoding_damage
    // after the fetch classes and BEFORE the language gate (damaged
    // text must never be language-judged or become a dedup keeper —
    // the chain excludes it from the dedup scope). Same oracle as
    // q318 via the shared bytesIntakeOracleSql builder, with arm 10
    // closed-form (provably the only damaged arm: every other ok-arm
    // main_text is pure ASCII). ──
    QuerySpec("q330_intake_damage", (s, dir) =>
      bytesIntakeChain(s, dir, damageGate = true),
      // the gated capstone: same chain, arm 10 damaged + quarantined
      bytesIntakeOracleSql(damage = true)),

    // ── per-host Crawl-delay (UrlCanon.parseCrawlDelays): the delay
    // is GROUP-scoped per RFC 9309, so the %4=0 hosts — whose
    // specific graftbot group declares NO delay — emit NO row even
    // though their '*' group carries one; every other host surfaces
    // its star-group delay (2 + host%7 s). Certifies group scoping
    // beyond what the rules table can show. ──
    QuerySpec("q245_crawl_delays", (s, dir) =>
      graft.ext.UrlCanon.parseCrawlDelays(
        robotsBodiesFixture(s), "host", "body", "graftbot"),
      // crawl-delay mirror: star-group delays arithmetic; %4=0 hosts
      // (specific group, no delay line) must be ABSENT
      """SELECT 'www.src' || CAST(i AS VARCHAR) || '.example.com' AS host,
        |  CAST(2 + i % 7 AS BIGINT) AS crawl_delay_s
        |FROM (SELECT unnest(range(0, 20)) AS i) ids
        |WHERE i % 4 <> 0""".stripMargin),

    // ── RFC 3986 reference resolution (UrlCanon.resolveUrl — the
    // round-12 verdict's top gap: most hrefs on real pages are
    // RELATIVE): every reference class live on one fixture — absolute,
    // network-path (//host), absolute-path, ./ and ../ merges, deep
    // mixed dot-segments, query-only, empty, fragment-only, and
    // non-hierarchical junk (javascript:) — resolved against messy
    // bases (case variants, explicit ports, trailing-slash dirs,
    // queries), then canonicalized. The oracle derives href, resolved
    // AND canonical forms ARITHMETICALLY from the id residues —
    // independent truth for the whole resolution chain, the q237
    // discipline. ──
    QuerySpec("q238_resolve_links", (s, dir) => {
      import graft.ext.UrlCanon
      val docs = t(s, dir, "documents")
      val id = col("doc_id")
      val m = id * (id + 3) + 7
      val cls = id % 11
      val href =
        when(cls === 0, messyUrl(m))
          .when(cls === 1,
            regexp_replace(messyUrl(m), "^[A-Za-z][A-Za-z0-9+.-]*:", ""))
          .when(cls === 2,
            concat(lit("/Docs/"), (m % 50).cast("string"), lit("?b=2&a=1")))
          .when(cls === 3, concat(lit("sub"), (m % 10).cast("string")))
          // whitespace-PADDED href (round-13 review finding): the URL
          // spec strips surrounding blanks before parsing — resolution
          // must match the unpadded form, never mis-merge " ./s" as a
          // relative path starting with a space
          .when(cls === 4, concat(lit("\t./s"), (m % 10).cast("string"), lit(" ")))
          .when(cls === 5, concat(lit("../Top/"), (m % 50).cast("string")))
          .when(cls === 6,
            concat(lit("../../a/./b/../c"), (m % 10).cast("string")))
          .when(cls === 7, concat(lit("?z="), (m % 9).cast("string")))
          .when(cls === 8, lit(""))
          .when(cls === 9, lit("javascript:void(0)"))
          .otherwise(lit("#top"))
      docs.select(id, cls.as("cls"), messyUrl(id).as("base"), href.as("href"))
        .select(col("doc_id"), col("cls"), col("href"),
          explode_outer(array(
            UrlCanon.resolveUrl(col("base"), col("href")))).as("resolved_url"))
        .withColumn("canonical_url", UrlCanon.canonicalUrl(col("resolved_url")))
    },
      // resolution mirror: href, resolved AND canonical forms all
      // derived ARITHMETICALLY from the id residues per reference class
      // (the q237 independent-truth discipline) — nothing here runs the
      // resolution chain, so a green hash certifies the SPEC of
      // resolveUrl + canonicalUrl composed, not engine parity
      {
        val i = "doc_id"
        val m = "m"
        val bs = mScmSql(i)
        val prefix = s"($bs || '://' || ${mAuthRawSql(i)})"
        val bHostPort = s"($bs || '://' || ${mHostCanSql(i)} || ${mPortCanSql(i, bs)})"
        val hrefSql =
          s"(CASE cls WHEN 0 THEN ${messyUrlSql(m)} " +
            s"WHEN 1 THEN regexp_replace(${messyUrlSql(m)}, '^[A-Za-z][A-Za-z0-9+.-]*:', '') " +
            s"WHEN 2 THEN '/Docs/' || CAST(($m) % 50 AS VARCHAR) || '?b=2&a=1' " +
            s"WHEN 3 THEN 'sub' || CAST(($m) % 10 AS VARCHAR) " +
            s"WHEN 4 THEN chr(9) || './s' || CAST(($m) % 10 AS VARCHAR) || ' ' " +
            s"WHEN 5 THEN '../Top/' || CAST(($m) % 50 AS VARCHAR) " +
            s"WHEN 6 THEN '../../a/./b/../c' || CAST(($m) % 10 AS VARCHAR) " +
            s"WHEN 7 THEN '?z=' || CAST(($m) % 9 AS VARCHAR) " +
            s"WHEN 8 THEN '' WHEN 9 THEN 'javascript:void(0)' " +
            s"ELSE '#top' END)"
        val resolvedSql =
          s"(CASE cls WHEN 0 THEN ${messyUrlSql(m)} " +
            s"WHEN 1 THEN $bs || '://' || ${mAuthRawSql(m)} || ${mPathRawSql(m)} || ${mQRawSql(m)} " +
            s"WHEN 2 THEN $prefix || '/Docs/' || CAST(($m) % 50 AS VARCHAR) || '?b=2&a=1' " +
            s"WHEN 3 THEN $prefix || ${mDirRawSql(i)} || 'sub' || CAST(($m) % 10 AS VARCHAR) " +
            s"WHEN 4 THEN $prefix || ${mDirRawSql(i)} || 's' || CAST(($m) % 10 AS VARCHAR) " +
            s"WHEN 5 THEN $prefix || (CASE WHEN ($i) % 7 = 0 THEN '/Docs' ELSE '' END) || '/Top/' || CAST(($m) % 50 AS VARCHAR) " +
            s"WHEN 6 THEN $prefix || '/a/c' || CAST(($m) % 10 AS VARCHAR) " +
            s"WHEN 7 THEN $prefix || ${mPathRawSql(i)} || '?z=' || CAST(($m) % 9 AS VARCHAR) " +
            s"WHEN 8 THEN $prefix || ${mPathRawSql(i)} || ${mQRawSql(i)} " +
            s"WHEN 9 THEN 'javascript:void(0)' " +
            s"ELSE $prefix || ${mPathRawSql(i)} || ${mQRawSql(i)} END)"
        val canonicalSql =
          s"(CASE cls WHEN 0 THEN ${mScmSql(m)} || '://' || ${mHostCanSql(m)} || ${mPortCanSql(m, mScmSql(m))} || ${mPathCanSql(m)} || ${mQCanSql(m)} " +
            s"WHEN 1 THEN $bs || '://' || ${mHostCanSql(m)} || ${mPortCanSql(m, bs)} || ${mPathCanSql(m)} || ${mQCanSql(m)} " +
            s"WHEN 2 THEN $bHostPort || '/Docs/' || CAST(($m) % 50 AS VARCHAR) || '?a=1&b=2' " +
            s"WHEN 3 THEN $bHostPort || ${mDirRawSql(i)} || 'sub' || CAST(($m) % 10 AS VARCHAR) " +
            s"WHEN 4 THEN $bHostPort || ${mDirRawSql(i)} || 's' || CAST(($m) % 10 AS VARCHAR) " +
            s"WHEN 5 THEN $bHostPort || (CASE WHEN ($i) % 7 = 0 THEN '/Docs' ELSE '' END) || '/Top/' || CAST(($m) % 50 AS VARCHAR) " +
            s"WHEN 6 THEN $bHostPort || '/a/c' || CAST(($m) % 10 AS VARCHAR) " +
            s"WHEN 7 THEN $bHostPort || ${mPathCanSql(i)} || '?z=' || CAST(($m) % 9 AS VARCHAR) " +
            s"WHEN 8 THEN $bHostPort || ${mPathCanSql(i)} || ${mQCanSql(i)} " +
            s"WHEN 9 THEN NULL " +
            s"ELSE $bHostPort || ${mPathCanSql(i)} || ${mQCanSql(i)} END)"
        s"""WITH b AS (
           |  SELECT doc_id, doc_id % 11 AS cls, doc_id*(doc_id+3)+7 AS m
           |  FROM documents)
           |SELECT doc_id, cls, $hrefSql AS href,
           |  $resolvedSql AS resolved_url,
           |  $canonicalSql AS canonical_url
           |FROM b""".stripMargin
      }),

    // ── HTTP response-record parsing (the fetch→parse stage, the
    // analytics-visible half of WARC processing): status line / header
    // block / body split at the FIRST blank line, case-insensitive
    // Content-Type + charset from the HEADER BLOCK only, total
    // decision table malformed / bad_status / bad_encoding / bad_type
    // / ok. Fixture arms: 404s, PDFs, LF-only separators (malformed),
    // no status line (malformed), mixed-case Content-Type, charset
    // present and absent, and (round 13) a chunked Transfer-Encoding
    // arm that must route bad_encoding, never 'ok' — all five classes
    // live. ──
    QuerySpec("q236_http_parse", (s, dir) =>
      graft.ext.HttpRecord.parse(
        httpRawFixture(t(s, dir, "documents")), "doc_id", "raw"),
      // HTTP-record mirror: CRLF via chr(13)||chr(10) in the fixture,
      // identical RE2 split/extract patterns in the parse
      HttpParseSql),

    // ── streaming HTTP triage twin (q218/q232 discipline): the same
    // raw fixture replayed over two JSONL waves through readStream →
    // parse → memory sink; parse is a pure projection, so the
    // accumulated table must equal q236's batch output — certified
    // against q236's oracle VERBATIM (shared HttpParseSql val). ──
    QuerySpec("q248_http_parse_stream", (s, dir) =>
      graft.streaming.StreamingReports.httpParseStreamReplay(
        s, httpRawFixture(t(s, dir, "documents"))),
      // streaming HTTP triage twin: stateless per-record parse replayed
      // over two JSONL waves — must accumulate EXACTLY the batch table,
      // so the oracle is q236's verbatim (shared val)
      HttpParseSql),

    // ── per-host BOILERPLATE-paragraph removal (the CCNet/RefinedWeb
    // stage after extraction): paragraphs whose fingerprint repeats on
    // ≥3 distinct pages of the same host (nav bars, footers) are
    // dropped; page-unique body text survives. Fixture plants a
    // per-host nav and footer around each doc's unique body, so the
    // boilerplate detection binds on every page (n_boiler = 2) while
    // clean_text keeps exactly the body. ──
    QuerySpec("q235_boilerplate_paras", (s, dir) => {
      import graft.ext.HtmlExtract
      val h = (col("doc_id") % 20).cast("string")
      // the paragraphs() regex chain (now incl. the numeric-entity
      // passes) is CPU-bound per row and the corpus is one local
      // split — spread before the per-page extraction
      val pages = t(s, dir, "documents").repartition(32, col("doc_id"))
        .select(col("doc_id"),
        concat(lit("www.src"), h, lit(".example.com")).as("host"),
        concat(
          lit("<html><body><div class=\"nav\">Home src"), h,
          lit(" about contact</div><p>"), col("text"),
          lit("</p><div class=\"footer\">Copyright src"), h,
          lit(" all rights</div></body></html>")).as("html"))
      HtmlExtract.dropBoilerplateParagraphs(pages, "doc_id", "host", "html")
    },
      // boilerplate-paragraph mirror: the paragraphs() chain with chr(1)
      // block breaks, list_transform/list_filter per-paragraph cleanup,
      // (host, md5) page-frequency, string_agg ORDER BY pos re-join
      """WITH pg AS (
        |  SELECT doc_id,
        |    'www.src' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS host,
        |    '<html><body><div class="nav">Home src' || CAST(doc_id % 20 AS VARCHAR)
        |      || ' about contact</div><p>' || text
        |      || '</p><div class="footer">Copyright src' || CAST(doc_id % 20 AS VARCHAR)
        |      || ' all rights</div></body></html>' AS html
        |  FROM documents),
        |p1 AS (SELECT doc_id, host, regexp_replace(html,
        |  '(?is)<script\b[^>]*>.*?</script[ \t\n\x0B\f\r]*>|<style\b[^>]*>.*?</style[ \t\n\x0B\f\r]*>|<!--.*?-->',
        |  ' ', 'g') AS t FROM pg),
        |p2 AS (SELECT doc_id, host, regexp_replace(t,
        |  '(?is)<script\b[^>]*>.*|<style\b[^>]*>.*|<!--.*', ' ', 'g') AS t FROM p1),
        |p3 AS (SELECT doc_id, host, regexp_replace(t, '<![^>]*>', ' ', 'g') AS t
        |  FROM p2),
        |p4 AS (SELECT doc_id, host, regexp_replace(t,
        |  '(?i)</?(?:p|div|br|li|ul|ol|h[1-6]|table|tr|td|section|article|header|footer)\b[^>]*>',
        |  chr(1), 'g') AS t FROM p3),
        |p5 AS (SELECT doc_id, host, regexp_replace(regexp_replace(t,
        |  '</?[A-Za-z][^>]*>', ' ', 'g'),
        |  '(?s)(?:</?[A-Za-z][^>]*|<![^>]*)\z', ' ', 'g') AS t FROM p4),
        |p6 AS (SELECT doc_id, host, __ENT__ AS t FROM p5),
        |pr AS (
        |  SELECT doc_id, host,
        |    unnest(list_filter(list_transform(string_split(t, chr(1)),
        |      x -> trim(regexp_replace(x, '[ \t\n\x0B\f\r]+', ' ', 'g'))),
        |      x -> x <> '')) AS para,
        |    generate_subscripts(list_filter(list_transform(string_split(t, chr(1)),
        |      x -> trim(regexp_replace(x, '[ \t\n\x0B\f\r]+', ' ', 'g'))),
        |      x -> x <> ''), 1) AS pos
        |  FROM p6),
        |fr AS (SELECT host, md5(para) AS fp, count(DISTINCT doc_id) AS n_pages
        |  FROM pr GROUP BY 1, 2),
        |j AS (SELECT pr.doc_id, pr.host, pr.para, pr.pos,
        |    fr.n_pages >= 3 AS boiler
        |  FROM pr JOIN fr ON fr.host = pr.host AND fr.fp = md5(pr.para))
        |SELECT doc_id, host, CAST(count(*) AS BIGINT) AS n_paras,
        |  CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  coalesce(string_agg(CASE WHEN NOT boiler THEN para END, ' '
        |    ORDER BY pos), '') AS clean_text
        |FROM j GROUP BY 1, 2""".stripMargin
      .replace("__ENT__", entityDecodeSql("t"))),

    // ── LINK-DENSITY boilerplate removal (HtmlExtract
    // .dropLinkFarmParagraphs): the per-paragraph signal the
    // page-frequency rule (q235) cannot see — a nav bar on a host
    // with fewer than minPages crawled pages. Fixture arms per page:
    // a pure-anchor nav paragraph (1000000 ppm — dropped), the body
    // text (0 ppm — kept), a mixed paragraph whose inline link is
    // ~343k ppm (kept — inline citations are not link farms), a
    // %7=0 exact-threshold paragraph (5 anchor chars / 10 visible =
    // 500000 ppm — dropped, certifying the >= rule), and a %9=0
    // second farm. ──
    QuerySpec("q249_link_density", (s, dir) => {
      import graft.ext.HtmlExtract
      // the sentinel chain + per-para HOF fold is CPU-bound per row
      // on the single-split local corpus — spread first (q241 rule)
      val pages = t(s, dir, "documents").repartition(32, col("doc_id"))
        .select(col("doc_id"),
          concat(
            lit("<html><body><div class=\"nav\"><a href=\"/\">Home</a> " +
              "<a href=\"/about\">About site "),
            (col("doc_id") % 250).cast("string"),
            lit("</a> <a href=\"/contact\">Contact</a></div><p>"),
            col("text"),
            lit("</p><p>see <a href=\"/more\">details here</a> " +
              "for the full story</p>"),
            when(col("doc_id") % 7 === 0,
              lit("<p><a href=\"/e\">abcde</a> fghi</p>")).otherwise(lit("")),
            when(col("doc_id") % 9 === 0,
              lit("<div><a href=\"/x\">x1</a> <a href=\"/y\">link two</a></div>"))
              .otherwise(lit("")),
            lit("</body></html>")).as("html"))
      HtmlExtract.dropLinkFarmParagraphs(pages, "doc_id", "html")
    },
      // link-density mirror: the q235 strip chain with an anchor-
      // sentinel pass (complete <a …>/</a> → chr(2)/chr(3)) before the
      // generic tag strip, then the per-paragraph density fold as list
      // lambdas; integer `//` division, >= threshold
      """WITH pg AS (
        |  SELECT doc_id,
        |    '<html><body><div class="nav"><a href="/">Home</a> <a href="/about">About site '
        |      || CAST(doc_id % 250 AS VARCHAR)
        |      || '</a> <a href="/contact">Contact</a></div><p>' || text
        |      || '</p><p>see <a href="/more">details here</a> for the full story</p>'
        |      || (CASE WHEN doc_id % 7 = 0
        |             THEN '<p><a href="/e">abcde</a> fghi</p>' ELSE '' END)
        |      || (CASE WHEN doc_id % 9 = 0
        |             THEN '<div><a href="/x">x1</a> <a href="/y">link two</a></div>'
        |             ELSE '' END)
        |      || '</body></html>' AS html
        |  FROM documents),
        |p1 AS (SELECT doc_id, regexp_replace(html,
        |  '(?is)<script\b[^>]*>.*?</script[ \t\n\x0B\f\r]*>|<style\b[^>]*>.*?</style[ \t\n\x0B\f\r]*>|<!--.*?-->',
        |  ' ', 'g') AS t FROM pg),
        |p2 AS (SELECT doc_id, regexp_replace(t,
        |  '(?is)<script\b[^>]*>.*|<style\b[^>]*>.*|<!--.*', ' ', 'g') AS t FROM p1),
        |p3 AS (SELECT doc_id, regexp_replace(t, '<![^>]*>', ' ', 'g') AS t
        |  FROM p2),
        |p4 AS (SELECT doc_id, regexp_replace(t,
        |  '(?i)</?(?:p|div|br|li|ul|ol|h[1-6]|table|tr|td|section|article|header|footer)\b[^>]*>',
        |  chr(1), 'g') AS t FROM p3),
        |p4a AS (SELECT doc_id, regexp_replace(regexp_replace(t,
        |  '(?i)<a\b[^>]*>', chr(2), 'g'),
        |  '(?i)</a[ \t\n\x0B\f\r]*>', chr(3), 'g') AS t FROM p4),
        |p5 AS (SELECT doc_id, regexp_replace(regexp_replace(t,
        |  '</?[A-Za-z][^>]*>', ' ', 'g'),
        |  '(?s)(?:</?[A-Za-z][^>]*|<![^>]*)\z', ' ', 'g') AS t FROM p4a),
        |p6 AS (SELECT doc_id, __ENT__ AS t FROM p5),
        |pr AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split(t, chr(1)),
        |      x -> trim(regexp_replace(x, '[ \t\n\x0B\f\r]+', ' ', 'g'))),
        |      x -> trim(regexp_replace(regexp_replace(x, '[\x02\x03]', ' ', 'g'),
        |        '[ \t\n\x0B\f\r]+', ' ', 'g')) <> '') AS paras
        |  FROM p6),
        |sc AS (
        |  SELECT doc_id, list_transform(paras, x -> struct_pack(
        |    vis := trim(regexp_replace(regexp_replace(x, '[\x02\x03]', ' ', 'g'),
        |      '[ \t\n\x0B\f\r]+', ' ', 'g')),
        |    ppm := (length(trim(regexp_replace(coalesce(array_to_string(
        |        regexp_extract_all(x, '\x02([^\x02\x03]*)\x03', 1), ' '), ''),
        |        '[ \t\n\x0B\f\r]+', ' ', 'g'))) * 1000000)
        |      // length(trim(regexp_replace(regexp_replace(x, '[\x02\x03]', ' ', 'g'),
        |        '[ \t\n\x0B\f\r]+', ' ', 'g'))))) AS s
        |  FROM pr)
        |SELECT doc_id,
        |  CAST(len(s) AS BIGINT) AS n_paras,
        |  CAST(len(list_filter(s, e -> e.ppm >= 500000)) AS BIGINT) AS n_linkfarm,
        |  CAST(coalesce(list_max(list_transform(s, e -> e.ppm)), 0) AS BIGINT)
        |    AS max_density_ppm,
        |  coalesce(array_to_string(list_transform(
        |    list_filter(s, e -> e.ppm < 500000), e -> e.vis), ' '), '')
        |    AS clean_text
        |FROM sc""".stripMargin
      .replace("__ENT__", entityDecodeSql("t"))),

    // ── STREAMING HTML extraction: q226's chain on a LIVE ingest (the
    // q218 stateless-map discipline) — pages land as JSONL waves, each
    // row extracts independently, so two delivery waves must
    // accumulate the identical table; certified against q226's batch
    // oracle VERBATIM. ──
    QuerySpec("q232_html_extract_stream", (s, dir) =>
      graft.streaming.StreamingReports.htmlExtractStreamReplay(
        s, htmlFixture(t(s, dir, "documents"))),
      // identical-oracle certification: the streaming extraction is a
      // stateless per-row map — two delivery waves must accumulate
      // exactly the batch table (the q218/q185 discipline)
      HtmlExtractSelectSql),

    // ── the INTAKE CAPSTONE: every stage of the crawl intake composed
    // into ONE certified decision table — URL dedup (q215) → robots
    // compliance (q223) → per-host budget (q217) → HTML main-content
    // extraction (q226) → language ID (q48, round 13) → n-gram LM
    // quality (q228) — with a total precedence order bad_url >
    // dup_url > denied > over_budget > wrong_language > low_quality >
    // kept (the CCNet stage order). The LANGUAGE RULE: only a
    // CONFIDENT non-target guess quarantines ('es' here); 'und' (no
    // function-word signal) falls through to the quality gate — don't
    // kill on no signal, the LM catches garbage. Garble arms: %11=0
    // reverses surviving pages (mojibake → 'und' → LM flags →
    // low_quality), %11=5 prepends a Spanish function-word run
    // (confident 'es' → wrong_language; its LM OOV share stays far
    // under threshold, so the language gate is the ONLY thing that
    // can catch it). All seven classes are populated at sf0.01. ──
    QuerySpec("q234_intake_capstone", (s, dir) => {
      import graft.ext.{HtmlExtract, UrlCanon}
      val docs = t(s, dir, "documents")
      val dec = UrlCanon.urlDecisions(
          urlFixture(docs).drop("n_chars"), "url", "doc_id")
        .select("doc_id", "canonical_url", "decision")
        .localCheckpoint() // feeds kept slice AND final table
      val kept = dec.filter(col("decision") === "kept")
        .select(col("doc_id"), col("canonical_url"))
      val rob = UrlCanon
        .robotsDecide(kept, "doc_id", "canonical_url", robotsRulesFixture(s))
        .select(col("doc_id"), col("host"), col("decision").as("__rd"))
        .localCheckpoint() // feeds the budget draw AND the final join
      val bud = graft.operators.Sampling.sampleExactN(
          rob.filter(col("__rd") === "allow").select("doc_id", "host"),
          "host", col("doc_id"), n = 5, salt = "budget-v1")
        .select(col("doc_id"), lit(1).as("__inb"))
        .localCheckpoint() // feeds the LM slice AND the final join
      val pages = htmlFixture(docs.select(col("doc_id"),
        when(col("doc_id") % 11 === 0, reverse(col("text")))
          .when(col("doc_id") % 11 === 5, concat(lit(EsGarble), col("text")))
          .otherwise(col("text")).as("text")))
      val surv = bud.join(pages, Seq("doc_id"))
        .select(col("doc_id"), HtmlExtract.mainText(col("html")).as("text"))
        .localCheckpoint() // feeds the lang gate AND the LM scorer
      val lang = TextAnalysis.withLangGuess(surv, "text", "__lang")
        .select(col("doc_id"), col("__lang"))
      val (c2, c1) = TextAnalysis.lmModel(
        docs.filter(col("doc_id") % 5 =!= 0), "text")
      val lm = TextAnalysis.lmScoreWith(c2, c1, surv, "doc_id", "text")
        .select(col("doc_id"), col("flag").as("__lmflag"))
      dec
        .join(rob.select("doc_id", "__rd"), Seq("doc_id"), "left")
        .join(bud, Seq("doc_id"), "left")
        .join(lang, Seq("doc_id"), "left")
        .join(lm, Seq("doc_id"), "left")
        .select(col("doc_id"), col("canonical_url"),
          when(col("decision") =!= "kept", col("decision"))
            .when(col("__rd") === "deny", lit("denied"))
            .when(col("__inb").isNull, lit("over_budget"))
            .when(col("__lang").isNotNull && col("__lang") =!= "en" &&
              col("__lang") =!= "und", lit("wrong_language"))
            .when(col("__lmflag") === "low", lit("low_quality"))
            .otherwise(lit("kept")).as("decision"))
    },
      // intake capstone: q215 keep rule + q223 robots rank + q217 budget
      // draw + q226 extraction chain + q228 LM chain, composed with the
      // total precedence CASE; every stage's mirror is the one already
      // certified standalone
      (UrlCanonChainSql +
        """,
          |k AS (
          |  SELECT canonical_url, min(doc_id) AS keep_id
          |  FROM canon WHERE canonical_url IS NOT NULL GROUP BY 1),
          |dec AS (
          |  SELECT c.doc_id, c.canonical_url,
          |    CASE WHEN c.canonical_url IS NULL THEN 'bad_url'
          |         WHEN c.doc_id = k.keep_id THEN 'kept'
          |         ELSE 'dup_url' END AS decision
          |  FROM canon c LEFT JOIN k ON c.canonical_url = k.canonical_url),
          |kept AS (
          |  SELECT doc_id, canonical_url,
          |    lower(regexp_extract(regexp_extract(canonical_url,
          |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
          |      '^(?:[^@]*@)?([^:]*)', 1)) AS host,
          |    CASE WHEN regexp_replace(regexp_extract(canonical_url,
          |           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
          |           '/+$', '') = '' THEN '/'
          |         ELSE regexp_replace(regexp_extract(canonical_url,
          |           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
          |           '/+$', '') END AS path
          |  FROM dec WHERE decision = 'kept'),
          |ids AS (SELECT unnest(range(0, 20)) AS i),
          |rl AS (
          |  SELECT 'www.src' || CAST(i AS VARCHAR) || '.example.com' AS host,
          |    '/' AS prefix, TRUE AS allow FROM ids
          |  UNION ALL
          |  SELECT 'www.src' || CAST(i AS VARCHAR) || '.example.com',
          |    '/Docs/' || CAST(i % 7 AS VARCHAR), FALSE FROM ids
          |  UNION ALL
          |  SELECT 'www.src' || CAST(i AS VARCHAR) || '.example.com',
          |    '/Docs/' || CAST(i % 7 AS VARCHAR) || '7', TRUE FROM ids),
          |m AS (
          |  SELECT f.doc_id, r.allow,
          |    row_number() OVER (PARTITION BY f.doc_id
          |      ORDER BY length(r.prefix) DESC NULLS LAST, r.prefix ASC NULLS FIRST,
          |        r.allow DESC NULLS LAST) AS rk
          |  FROM kept f LEFT JOIN rl r
          |    ON r.host = f.host AND starts_with(f.path, r.prefix)),
          |rdec AS (
          |  SELECT doc_id,
          |    CASE WHEN coalesce(allow, TRUE) THEN 'allow' ELSE 'deny' END AS rd
          |  FROM m WHERE rk = 1),
          |bud AS (
          |  SELECT k2.doc_id FROM kept k2
          |  JOIN rdec ON rdec.doc_id = k2.doc_id AND rdec.rd = 'allow'
          |  QUALIFY row_number() OVER (PARTITION BY k2.host
          |    ORDER BY substr(md5(concat_ws(':', 'budget-v1',
          |      CAST(k2.doc_id AS VARCHAR))), 1, 8), k2.doc_id) <= 5),
          |""".stripMargin +
        htmlFixtureSql("FROM (SELECT d.doc_id," +
          " CASE WHEN d.doc_id % 11 = 0 THEN reverse(d.text)" +
          s" WHEN d.doc_id % 11 = 5 THEN '$EsGarble' || d.text" +
          " ELSE d.text END" +
          " AS text FROM documents d JOIN bud ON bud.doc_id = d.doc_id) dk") +
        ",\n" + HtmlExtractCtesSql +
        """,
          |lsc AS (
          |  SELECT doc_id, regexp_extract_all(lower(main_text), '[a-z0-9]+') AS toks
          |  FROM ext),
          |lgs AS (
          |  SELECT doc_id,
          |    len(list_filter(toks, x -> x IN ('the','and','of','to','is','in','that','it','with','for'))) AS s_en,
          |    len(list_filter(toks, x -> x IN ('el','la','de','que','y','los','las','por','con','una'))) AS s_es,
          |    len(list_filter(toks, x -> x IN ('der','die','und','das','ist','nicht','ein','mit','von','den'))) AS s_de,
          |    len(list_filter(toks, x -> x IN ('le','la','les','et','est','des','une','dans','pour','que'))) AS s_fr,
          |    len(list_filter(toks, x -> x IN ('il','di','che','la','per','una','sono','non','con','del'))) AS s_it
          |  FROM lsc),
          |lg AS (
          |  SELECT doc_id,
          |    CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_it) = 0 THEN 'und'
          |         WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_it) THEN 'en'
          |         WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_it) THEN 'es'
          |         WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_it) THEN 'de'
          |         WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_it) THEN 'fr'
          |         WHEN s_it = greatest(s_en, s_es, s_de, s_fr, s_it) THEN 'it'
          |         ELSE 'und' END AS guess
          |  FROM lgs),
          |rtok AS (
          |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w,
          |    generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]+'), 1) AS p
          |  FROM documents WHERE doc_id % 5 <> 0),
          |rbg AS (
          |  SELECT w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS w2
          |  FROM rtok QUALIFY w2 IS NOT NULL),
          |c2 AS (SELECT w1, w2, count(*) AS c2 FROM rbg GROUP BY 1, 2),
          |stok AS (
          |  SELECT doc_id,
          |    unnest(regexp_extract_all(lower(main_text), '[a-z0-9]+')) AS w,
          |    generate_subscripts(regexp_extract_all(lower(main_text), '[a-z0-9]+'), 1)
          |      AS p
          |  FROM ext),
          |sbg AS (
          |  SELECT doc_id, w AS w1, lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS w2
          |  FROM stok QUALIFY w2 IS NOT NULL),
          |ppm AS (
          |  SELECT s.doc_id,
          |    CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS unseen
          |  FROM sbg s LEFT JOIN c2 ON c2.w1 = s.w1 AND c2.w2 = s.w2),
          |lmf AS (
          |  SELECT doc_id,
          |    CASE WHEN sum(unseen) * 1000000 // count(*) >= 500000
          |         THEN 'low' ELSE 'ok' END AS lmflag
          |  FROM ppm GROUP BY 1)
          |SELECT dec.doc_id, dec.canonical_url,
          |  CASE WHEN dec.decision <> 'kept' THEN dec.decision
          |       WHEN r.rd = 'deny' THEN 'denied'
          |       WHEN bud.doc_id IS NULL THEN 'over_budget'
          |       WHEN lg.guess IS NOT NULL AND lg.guess NOT IN ('en', 'und')
          |         THEN 'wrong_language'
          |       WHEN lf.lmflag = 'low' THEN 'low_quality'
          |       ELSE 'kept' END AS decision
          |FROM dec
          |LEFT JOIN rdec r ON r.doc_id = dec.doc_id
          |LEFT JOIN bud ON bud.doc_id = dec.doc_id
          |LEFT JOIN lg ON lg.doc_id = dec.doc_id
          |LEFT JOIN lmf lf ON lf.doc_id = dec.doc_id""".stripMargin)),

    // ── the ROUND-10 CAPSTONE: a corpus REFRESH end-to-end from this
    // round's operators. v2 derives as in q103 (drop %11, edit %7,
    // add re-keyed %13); Diff.diff CLASSIFIES the batch (added ∪
    // changed keys — the pipeline decides what to re-cluster from the
    // diff, not from out-of-band knowledge); incrementalClusters folds
    // exactly that batch into the unchanged docs' assignment;
    // canonicalPerCluster keeps the best member (argmax fresh
    // length(text) — the stored n_chars is STALE for edited docs);
    // per-source rollup of docs/clusters/canonicals/kept chars. One
    // oracle certifies the whole composition: full q55-style CC over
    // the v2 CTE + argmax canonical + rollup. ──
    // ── STREAMING CRAWL INGESTION capstone: quarantine + persisted
    // minhash-index probe + batch self-dedup + exactly-once manifest
    // commits, composed into the production crawl pipeline. Three
    // waves stream through foreachBatch: wave 0 re-crawls corpus docs
    // (dup_index), introduces a novel family with in-batch copies
    // (ingested + dup_batch) and truncated-JSON lines (quarantined);
    // wave 1 delivers truncated near-dups of corpus docs (the
    // LSH-candidate + exact-verify arc); wave 2 REDELIVERS wave 0's
    // novel texts under new ids — flagged dup_index only because wave
    // 0's intake was appended to the index (ingestion order is
    // load-bearing). The oracle re-derives every decision from
    // `documents` with exact all-pairs Jaccard, unrolled wave by wave:
    // wave k's index = corpus ∪ waves <k's ingested sets. ──
    QuerySpec("q190_crawl_ingest_stream", (s, dir) =>
      graft.streaming.CrawlIngest.crawlIngestReplay(s, dir),
      // Crawl-ingestion truth: rebuild every wave's lines from
      // `documents` (the fixture IS corpus-derived), classify with exact
      // all-pairs Jaccard, and unroll the index state wave by wave —
      // wave k's index = corpus ∪ (waves <k)'s ingested sets. The LSH
      // side must agree because candidates are verified with the same
      // exact Jaccard; only banding recall differs, and at J>=0.8 with
      // 32x4 bands the per-pair miss probability is <5e-8 (exact copies
      // and >=0.9 truncations: <1e-14), far below one expected miss on
      // this fixture. Batch-internal rule both sides: suppressed iff a
      // SMALLER-id same-batch doc is similar (conservative set rule).
      """WITH tk AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        |  FROM documents),
        |batch AS (
        |  SELECT 0 AS batch_id, 200000 + doc_id AS new_id, t
        |  FROM tk WHERE doc_id % 11 = 0
        |  UNION ALL
        |  SELECT 0, 200000 + doc_id,
        |    ['novel', 'alpha', CAST(doc_id AS VARCHAR),
        |     'edge', CAST(doc_id*1000+7 AS VARCHAR),
        |     'mark', CAST(doc_id*1000+13 AS VARCHAR)]
        |  FROM tk WHERE doc_id % 11 = 3
        |  UNION ALL
        |  SELECT 0, 250000 + doc_id,
        |    ['novel', 'alpha', CAST(doc_id AS VARCHAR),
        |     'edge', CAST(doc_id*1000+7 AS VARCHAR),
        |     'mark', CAST(doc_id*1000+13 AS VARCHAR)]
        |  FROM tk WHERE doc_id % 11 = 3
        |  UNION ALL
        |  SELECT 1, 300000 + doc_id, list_slice(t, 1, len(t) - 3)
        |  FROM tk WHERE doc_id % 11 = 5 AND len(t) >= 40
        |  UNION ALL
        |  SELECT 2, 400000 + doc_id,
        |    ['novel', 'alpha', CAST(doc_id AS VARCHAR),
        |     'edge', CAST(doc_id*1000+7 AS VARCHAR),
        |     'mark', CAST(doc_id*1000+13 AS VARCHAR)]
        |  FROM tk WHERE doc_id % 11 = 3
        |  UNION ALL
        |  SELECT 2, 400000 + doc_id,
        |    ['novel', 'delta', CAST(doc_id AS VARCHAR),
        |     'edge', CAST(doc_id*1000+7 AS VARCHAR),
        |     'mark', CAST(doc_id*1000+13 AS VARCHAR)]
        |  FROM tk WHERE doc_id % 11 = 8),
        |btok AS (
        |  SELECT batch_id, new_id, unnest(t) AS tok,
        |         generate_subscripts(t, 1) AS pos
        |  FROM batch),
        |bsh AS (
        |  SELECT DISTINCT batch_id, new_id,
        |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        |  FROM btok WINDOW w AS (PARTITION BY batch_id, new_id ORDER BY pos)
        |  QUALIFY lead(tok, 2) OVER w IS NOT NULL),
        |bsz AS (SELECT batch_id, new_id, count(*) AS n FROM bsh GROUP BY 1, 2),
        |ctok AS (
        |  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos FROM tk),
        |csh AS (
        |  SELECT DISTINCT doc_id,
        |    tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        |  FROM ctok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |  QUALIFY lead(tok, 2) OVER w IS NOT NULL),
        |csz AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
        |mc AS (
        |  SELECT q.batch_id, q.new_id, q.doc_id FROM (
        |    SELECT b.batch_id, b.new_id, c.doc_id, count(*) AS i
        |    FROM bsh b JOIN csh c ON b.shingle = c.shingle
        |    GROUP BY 1, 2, 3) q
        |  JOIN bsz ON bsz.batch_id = q.batch_id AND bsz.new_id = q.new_id
        |  JOIN csz ON csz.doc_id = q.doc_id
        |  WHERE CAST(q.i AS DOUBLE) / (bsz.n + csz.n - q.i) >= 0.8),
        |mb AS (
        |  SELECT p.ba, p.ia, p.bb, p.ib FROM (
        |    SELECT a.batch_id AS ba, a.new_id AS ia,
        |           b.batch_id AS bb, b.new_id AS ib, count(*) AS i
        |    FROM bsh a JOIN bsh b ON a.shingle = b.shingle
        |      AND (a.batch_id < b.batch_id
        |        OR (a.batch_id = b.batch_id AND a.new_id < b.new_id))
        |    GROUP BY 1, 2, 3, 4) p
        |  JOIN bsz sa ON sa.batch_id = p.ba AND sa.new_id = p.ia
        |  JOIN bsz sb ON sb.batch_id = p.bb AND sb.new_id = p.ib
        |  WHERE CAST(p.i AS DOUBLE) / (sa.n + sb.n - p.i) >= 0.8),
        |c0 AS (
        |  SELECT new_id,
        |    CASE WHEN n_idx > 0 THEN 'dup_index'
        |         WHEN supp THEN 'dup_batch' ELSE 'ingested' END AS status, n_idx
        |  FROM (
        |    SELECT b.new_id,
        |      (SELECT count(DISTINCT doc_id) FROM mc
        |       WHERE mc.batch_id = 0 AND mc.new_id = b.new_id) AS n_idx,
        |      EXISTS (SELECT 1 FROM mb
        |              WHERE mb.bb = 0 AND mb.ib = b.new_id) AS supp
        |    FROM batch b WHERE b.batch_id = 0)),
        |ing0 AS (SELECT new_id FROM c0 WHERE status = 'ingested'),
        |c1 AS (
        |  SELECT new_id,
        |    CASE WHEN n_idx > 0 THEN 'dup_index'
        |         WHEN supp THEN 'dup_batch' ELSE 'ingested' END AS status, n_idx
        |  FROM (
        |    SELECT b.new_id,
        |      (SELECT count(DISTINCT doc_id) FROM mc
        |       WHERE mc.batch_id = 1 AND mc.new_id = b.new_id)
        |      + (SELECT count(DISTINCT mb.ia) FROM mb
        |         JOIN ing0 ON ing0.new_id = mb.ia
        |         WHERE mb.ba = 0 AND mb.bb = 1 AND mb.ib = b.new_id) AS n_idx,
        |      EXISTS (SELECT 1 FROM mb
        |              WHERE mb.ba = 1 AND mb.bb = 1 AND mb.ib = b.new_id) AS supp
        |    FROM batch b WHERE b.batch_id = 1)),
        |ing01 AS (SELECT new_id FROM ing0
        |          UNION ALL SELECT new_id FROM c1 WHERE status = 'ingested'),
        |c2 AS (
        |  SELECT new_id,
        |    CASE WHEN n_idx > 0 THEN 'dup_index'
        |         WHEN supp THEN 'dup_batch' ELSE 'ingested' END AS status, n_idx
        |  FROM (
        |    SELECT b.new_id,
        |      (SELECT count(DISTINCT doc_id) FROM mc
        |       WHERE mc.batch_id = 2 AND mc.new_id = b.new_id)
        |      + (SELECT count(DISTINCT mb.ia) FROM mb
        |         JOIN ing01 ON ing01.new_id = mb.ia
        |         WHERE mb.ba < 2 AND mb.bb = 2 AND mb.ib = b.new_id) AS n_idx,
        |      EXISTS (SELECT 1 FROM mb
        |              WHERE mb.ba = 2 AND mb.bb = 2 AND mb.ib = b.new_id) AS supp
        |    FROM batch b WHERE b.batch_id = 2))
        |SELECT CAST(0 AS BIGINT) AS batch_id, CAST(new_id AS BIGINT) AS new_id,
        |       status, CAST(n_idx AS BIGINT) AS n_idx_matches,
        |       CAST(NULL AS VARCHAR) AS line_fp
        |FROM c0
        |UNION ALL
        |SELECT 1, new_id, status, n_idx, NULL FROM c1
        |UNION ALL
        |SELECT 2, new_id, status, n_idx, NULL FROM c2
        |UNION ALL
        |SELECT 0, CAST(NULL AS BIGINT), 'quarantined', CAST(NULL AS BIGINT),
        |  md5('{"new_id": ' || CAST(doc_id + 500000 AS VARCHAR) || ', "text": "lost')
        |FROM tk WHERE doc_id % 11 = 7""".stripMargin)
  )
}
