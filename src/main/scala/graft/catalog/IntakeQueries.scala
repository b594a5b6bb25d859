package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Shared._

/** Fetched bytes: gzip/zstd inflate, charset transcoding, fetch
  * decode, WARC framing and chunked transfer.
  */
object IntakeQueries {

  /** WARC archive-blob fixture (q269): R = 1+id%3 records per blob,
    * payload r = repeat('p', 5+(id+r)%7), uri/type arithmetic in
    * (id, r). Arms on m = id%10: m=6 lowercase header names (parse is
    * case-insensitive); m=7 junk bytes after the last record
    * (bad_magic, all R records still emitted); m=8 the LAST record's
    * Content-Length overdeclared by 3 (bad_length, R−1 records); m=9
    * the last record missing Content-Length (bad_header, R−1 — and
    * R=1 blobs emit ZERO records, exercising the null record row).
    */
  private def warcBlobFixture(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val m = id % 10
    val nRecs = (lit(1) + id % 3).cast("int")
    def hn(canon: String): Column =
      when(m === 6, lit(canon.toLowerCase)).otherwise(lit(canon))
    def recOf(r: Column): Column = {
      val len = (lit(5) + pmod(id + r, lit(7))).cast("int")
      val badLast = (m === 8) && (r === nRecs - 1)
      val omitCl = (m === 9) && (r === nRecs - 1)
      val clVal = when(badLast, len + 3).otherwise(len).cast("string")
      val clLine = when(omitCl, lit("")).otherwise(
        concat(hn("Content-Length"), lit(": "), clVal, lit("\r\n")))
      concat(lit("WARC/1.0\r\n"),
        hn("WARC-Type"), lit(": "),
        when(pmod(r, lit(2)) === 0, lit("response")).otherwise(lit("request")),
        lit("\r\n"),
        hn("WARC-Target-URI"), lit(": http://www.src"),
        (id % 20).cast("string"), lit(".example.com/Docs/"),
        id.cast("string"), lit("/"), r.cast("string"), lit("\r\n"),
        clLine, lit("\r\n"),
        repeat(lit("p"), len), lit("\r\n\r\n"))
    }
    val blob = concat(
      array_join(transform(sequence(lit(0), nRecs - 1), r => recOf(r)), ""),
      when(m === 7, lit("JUNKJUNKJUNK")).otherwise(lit("")))
    docs.select(id).repartition(32).select(id, blob.as("blob"))
  }

  /** WARC-of-HTTP fixture (q272): each blob's payloads are FULL HTTP
    * responses with HTML bodies — Content-Length comes from
    * length(payload) so framing is consistent by construction; the
    * oracle reconstructs the extracted text from (id, r) residues.
    * Arms: (id+r)%6 = 3 → 404, = 4 → PDF; odd r → request records;
    * id%10 = 7 → junk tail (bad archive), = 9 → empty archive blob.
    */
  private def warcHttpFixture(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val m = id % 10
    val nRecs = (lit(1) + id % 3).cast("int")
    def recOf(r: Column): Column = {
      val c = pmod(id + r, lit(6))
      val w = (lit(3) + pmod(id + r, lit(5))).cast("int")
      val statusLine = when(c === 3, lit("HTTP/1.1 404 Not Found"))
        .otherwise(lit("HTTP/1.1 200 OK"))
      val ctype = when(c === 4, lit("application/pdf"))
        .otherwise(lit("text/html"))
      val payload = concat(statusLine, lit("\r\nContent-Type: "), ctype,
        lit("\r\n\r\n<html><body><p>"), repeat(lit("word "), w),
        lit("end</p></body></html>"))
      concat(lit("WARC/1.0\r\nWARC-Type: "),
        when(pmod(r, lit(2)) === 0, lit("response")).otherwise(lit("request")),
        lit("\r\nWARC-Target-URI: http://www.src"), (id % 20).cast("string"),
        lit(".example.com/Docs/"), id.cast("string"), lit("/"),
        r.cast("string"),
        lit("\r\nContent-Length: "), length(payload).cast("string"),
        lit("\r\n\r\n"), payload, lit("\r\n\r\n"))
    }
    val blob = when(m === 9, lit(""))
      .otherwise(concat(
        array_join(transform(sequence(lit(0), nRecs - 1), r => recOf(r)), ""),
        when(m === 7, lit("JUNK")).otherwise(lit(""))))
    docs.select(id).repartition(32).select(id, blob.as("blob"))
  }

  /** q306/q308 SHARED inflate cap (bytes of decoded payload): the
    * decompression-bomb guard, sized so the sf0.01 corpus (byte
    * lengths 48-553) populates BOTH routes of the cap rule. The
    * oracle mirrors it via strlen(text) (DuckDB strlen = UTF-8
    * octets, the same unit the inflate loop counts).
    */
  private val InflateCapBytes = 400

  /** q269/q282 shared warc-split mirror: records reconstructed
    * arithmetically from (id, r) — no framing parse oracle-side;
    * zero-record blobs come back as the LEFT JOIN's null row.
    */
  private val WarcSplitSql: String =
    """WITH p AS (
        |  SELECT doc_id, doc_id % 10 AS m, 1 + doc_id % 3 AS rr
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, m,
        |    CASE WHEN m IN (8, 9) THEN rr - 1 ELSE rr END AS re
        |  FROM p),
        |recs AS (
        |  SELECT doc_id, unnest(range(0, re)) AS r FROM e),
        |rr2 AS (
        |  SELECT doc_id, CAST(r AS BIGINT) AS rec_idx,
        |    CASE WHEN r % 2 = 0 THEN 'response' ELSE 'request' END
        |      AS warc_type,
        |    'http://www.src' || CAST(doc_id % 20 AS VARCHAR)
        |      || '.example.com/Docs/' || CAST(doc_id AS VARCHAR)
        |      || '/' || CAST(r AS VARCHAR) AS target_uri,
        |    repeat('p', CAST(5 + (doc_id + r) % 7 AS INT)) AS payload
        |  FROM recs)
        |SELECT e.doc_id,
        |  CASE WHEN m = 7 THEN 'bad_magic' WHEN m = 8 THEN 'bad_length'
        |       WHEN m = 9 THEN 'bad_header' ELSE 'ok' END AS warc_status,
        |  rr2.rec_idx, rr2.warc_type, rr2.target_uri, rr2.payload
        |FROM e LEFT JOIN rr2 ON e.doc_id = rr2.doc_id""".stripMargin

  /** q308/q311 SHARED fetch-decode mirror (the FullDedupClustersSql
    * rule: the streaming twin certifies against the batch oracle
    * VERBATIM): every output column closed-form per arm — the oracle
    * never parses bytes (arms are disjoint by doc_id % 14; chr(233)
    * é, chr(8364) €, chr(12459/12501/12455) kana, chr(65533) U+FFFD).
    */
  private val FetchDecodeArmsSql: String =
    """SELECT doc_id,
        |  CASE WHEN doc_id % 14 = 12 THEN NULL
        |       WHEN doc_id % 14 = 6 THEN 404 ELSE 200 END AS status,
        |  CASE doc_id % 14 WHEN 12 THEN ''
        |    WHEN 7 THEN 'application/json' ELSE 'text/html' END
        |    AS content_type,
        |  CASE doc_id % 14
        |    WHEN 0 THEN 'utf-8' WHEN 1 THEN 'windows-1252'
        |    WHEN 2 THEN 'shift_jis' WHEN 3 THEN 'utf-8'
        |    WHEN 4 THEN 'windows-1252' WHEN 5 THEN 'utf-8'
        |    ELSE '' END AS charset,
        |  CASE doc_id % 14
        |    WHEN 0 THEN 'utf8' WHEN 1 THEN 'header' WHEN 2 THEN 'meta'
        |    WHEN 3 THEN 'bom' WHEN 4 THEN 'cp1252_fallback'
        |    WHEN 5 THEN 'header' ELSE '' END AS cs_source,
        |  CASE doc_id % 14
        |    WHEN 6 THEN 'bad_status' WHEN 7 THEN 'bad_type'
        |    WHEN 8 THEN 'bad_encoding' WHEN 9 THEN 'bad_encoding'
        |    WHEN 10 THEN 'bad_inflate' WHEN 11 THEN 'bad_charset'
        |    WHEN 12 THEN 'malformed' WHEN 13 THEN 'bad_inflate'
        |    ELSE 'ok' END AS decision,
        |  CASE doc_id % 14
        |    WHEN 0 THEN text
        |    WHEN 1 THEN text || ' caf' || chr(233) || ' ' || chr(8364) || '9'
        |    WHEN 2 THEN '<html><head><meta charset=shift_jis></head><body>'
        |      || text || ' ' || chr(12459) || chr(12501) || chr(12455)
        |      || '</body></html>'
        |    WHEN 3 THEN text || ' caf' || chr(233)
        |    WHEN 4 THEN text || ' caf' || chr(233)
        |    WHEN 5 THEN text || ' caf' || chr(65533) || '!'
        |    ELSE NULL END AS text
        |FROM documents""".stripMargin

  val specs: Seq[QuerySpec] = Seq(

    // ── CONDITIONAL-fetch planning (HttpRecord.conditionalFetchPlan):
    // the revalidation stage after q246 decides WHO — stored ETag →
    // If-None-Match refetch, else Last-Modified → If-Modified-Since,
    // else full fetch. Three revisit rounds per URL; rounds 1-2 carry
    // a DECOY ETag ("stale"), so any non-latest selection mismatches;
    // round-3 arms: ETag (%4=0), Last-Modified (%4=1), BOTH — the
    // ETag must win (%4=2), neither → full (%4=3). ──
    QuerySpec("q251_conditional_fetch", (s, dir) => {
      val docs = t(s, dir, "documents")
      val hist = docs
        .select(col("doc_id"), explode(sequence(lit(1), lit(3))).as("r"))
      val url = concat(lit("http://www.src"),
        (col("doc_id") % 20).cast("string"),
        lit(".example.com/Docs/"), col("doc_id").cast("string"))
      val etagLine = when(col("r") < 3, lit("\r\nETag: \"stale\""))
        .when(col("doc_id") % 4 === 0 || col("doc_id") % 4 === 2,
          concat(lit("\r\nETag: \"v"), (col("doc_id") % 7).cast("string"),
            lit("\"")))
        .otherwise(lit(""))
      val lmLine = when(col("r") === 3 &&
          (col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2),
        concat(lit("\r\nLast-Modified: Mon, 12 Jan 2026 0"),
          (col("doc_id") % 10).cast("string"), lit(":00:00 GMT")))
        .otherwise(lit(""))
      val raw = concat(lit("HTTP/1.1 200 OK"), etagLine, lmLine,
        lit("\r\nContent-Type: text/html\r\n\r\n<p>ok</p>"))
      graft.ext.HttpRecord.conditionalFetchPlan(
        hist.select(url.as("url"), col("r"), raw.as("raw")),
        "url", "r", "raw")
    },
      // conditional-fetch mirror: FULLY closed-form in the residues —
      // the decoy rounds never surface, the ETag-beats-Last-Modified
      // rule and every validator string are pure doc_id arithmetic
      """SELECT 'http://www.src' || CAST(doc_id % 20 AS VARCHAR)
        |    || '.example.com/Docs/' || CAST(doc_id AS VARCHAR) AS url,
        |  CAST(200 AS INT) AS last_status,
        |  CASE WHEN doc_id % 4 IN (0, 2) THEN 'revalidate_etag'
        |       WHEN doc_id % 4 = 1 THEN 'revalidate_modified'
        |       ELSE 'full' END AS mode,
        |  CASE WHEN doc_id % 4 IN (0, 2)
        |         THEN '"v' || CAST(doc_id % 7 AS VARCHAR) || '"'
        |       WHEN doc_id % 4 = 1
        |         THEN 'Mon, 12 Jan 2026 0' || CAST(doc_id % 10 AS VARCHAR)
        |           || ':00:00 GMT'
        |       ELSE '' END AS validator
        |FROM documents""".stripMargin),

    // ── WARC container splitting (WarcRecord.splitRecords — the step
    // BEFORE q236's HTTP parse in a Common-Crawl-shaped pipeline):
    // multi-record blobs walked by the bounded fold, four framing
    // arms (lowercase headers parse; junk tail → bad_magic with the
    // head records kept; overdeclared Content-Length → bad_length;
    // missing Content-Length → bad_header, whose R=1 blobs emit the
    // null zero-record row). Every record field and the per-arm
    // record count is closed-form in (id, r), so the oracle
    // RECONSTRUCTS records arithmetically — it never parses framing. ──
    QuerySpec("q269_warc_split", (s, dir) =>
      graft.ext.WarcRecord.splitRecords(
        warcBlobFixture(t(s, dir, "documents")), "doc_id", "blob"),
      // warc-split mirror (shared WarcSplitSql — the streaming twin
      // q282 certifies against it verbatim)
      WarcSplitSql),

    // ── streaming WARC-split twin (the q248/q263/q271/q279
    // discipline, here over a RECORD-FANNING projection — the replay
    // harness's first posexplode_outer consumer): the four-arm blob
    // fixture replayed over two JSONL waves; per-record rows
    // accumulate in append mode and must equal the batch split —
    // certified against q269's oracle VERBATIM (shared WarcSplitSql
    // val + shared warcBlobFixture). ──
    QuerySpec("q282_warc_stream", (s, dir) =>
      graft.streaming.StreamingReports.projectionStreamReplay(
        s, warcBlobFixture(t(s, dir, "documents")), "doc_id", "blob",
        df => graft.ext.WarcRecord.splitRecords(df, "doc_id", "blob")),
      WarcSplitSql),

    // ── archive-intake capstone (q272): the full Common-Crawl-shaped
    // chain WARC split (q269) → HTTP parse (q236) → HTML extraction
    // (q226) composed at RECORD grain, every record classified once —
    // bad_archive (framing violations poison the whole blob),
    // empty_archive (zero-record blobs' null row), not_response
    // (request records never reach the HTTP parser), then the HTTP
    // decision table, with main text + word count extracted for ok
    // rows only. Content-Length is length(payload) by construction,
    // so the oracle reconstructs the extracted text purely from
    // (id, r) residues. Record key is doc_id·4+rec_idx (R ≤ 3). ──
    QuerySpec("q272_archive_intake", (s, dir) => {
      import graft.ext.{HtmlExtract, HttpRecord, WarcRecord}
      val recs = WarcRecord.splitRecords(
          warcHttpFixture(t(s, dir, "documents")), "doc_id", "blob")
        .withColumn("rid",
          col("doc_id") * 4 + coalesce(col("rec_idx"), lit(3L)))
        .localCheckpoint()
      val parsed = HttpRecord.parse(
        recs.filter(col("warc_status") === "ok" &&
          col("warc_type") === "response"), "rid", "payload")
        .select(col("rid"), col("decision").as("__hd"))
      val staged = recs.join(parsed, Seq("rid"), "left")
        .withColumn("decision",
          when(col("warc_status") =!= "ok", lit("bad_archive"))
            .when(col("rec_idx").isNull, lit("empty_archive"))
            .when(col("warc_type") =!= "response", lit("not_response"))
            .otherwise(col("__hd")))
        .withColumn("text", when(col("decision") === "ok",
          HtmlExtract.mainText(HttpRecord.body(col("payload")))))
        // checkpoint before deriving n_words from text: projections
        // collapse and there is no CSE — without the barrier the
        // whole extraction chain would run twice per row
        .localCheckpoint()
      staged
        .withColumn("n_words", when(col("decision") === "ok",
          size(filter(split(col("text"), "[ \t\r\n]+"), x => x =!= ""))
            .cast("long")))
        .select("doc_id", "rec_idx", "decision", "text", "n_words")
    },
      // archive-intake mirror: decisions and extracted text purely from
      // (id, r) residues — nothing is parsed oracle-side
      """WITH p AS (
        |  SELECT doc_id, doc_id % 10 AS m, 1 + doc_id % 3 AS rr
        |  FROM documents),
        |recs AS (
        |  SELECT doc_id, m, unnest(range(0, rr)) AS r
        |  FROM p WHERE m <> 9),
        |cls AS (
        |  SELECT doc_id, m, r, CAST(r AS BIGINT) AS rec_idx,
        |    (doc_id + r) % 6 AS c, 3 + (doc_id + r) % 5 AS w
        |  FROM recs)
        |SELECT doc_id, rec_idx,
        |  CASE WHEN m = 7 THEN 'bad_archive'
        |       WHEN r % 2 = 1 THEN 'not_response'
        |       WHEN c = 3 THEN 'bad_status'
        |       WHEN c = 4 THEN 'bad_type'
        |       ELSE 'ok' END AS decision,
        |  CASE WHEN m <> 7 AND r % 2 = 0 AND c NOT IN (3, 4)
        |       THEN repeat('word ', CAST(w AS INT)) || 'end' END AS text,
        |  CASE WHEN m <> 7 AND r % 2 = 0 AND c NOT IN (3, 4)
        |       THEN CAST(w + 1 AS BIGINT) END AS n_words
        |FROM cls
        |UNION ALL
        |SELECT doc_id, CAST(NULL AS BIGINT), 'empty_archive',
        |  CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
        |FROM p WHERE m = 9""".stripMargin),

    // ── bounded Content-Encoding inflate (plans.Inflate — the step
    // WarcRecord deliberately punted "upstream"; on real Common Crawl
    // payloads are overwhelmingly gzip, so the fetch-side family was
    // incomplete without it). The q241 inversion discipline: bodies
    // are compressed IN-PLAN from documents.text, the oracle only
    // ever sees the round-trip contract. Arms (doc_id % 12): 0 bad
    // magic, 1 trailing garbage (stricter than the JDK, which
    // silently ignores tails), 2 multi-member concatenation (legal
    // per RFC 1952 §2.2 — decodes to the concatenation), 3 zlib and
    // 4 raw-deflate via the HTTP-deflate sniff, 5 truncated stream,
    // 6 corrupt CRC32 trailer, else plain gzip. EVERY decode is
    // capped at InflateCapBytes — docs whose payload exceeds it
    // route NULL at the cap (the decompression-bomb guard: never a
    // truncated prefix), which at sf0.01 splits the plain arms both
    // ways (byte lengths run 48-553 vs the 400 cap). ──
    QuerySpec("q306_gzip_inflate", (s, dir) => {
      import graft.plans.Inflate
      val id = col("doc_id")
      val a = id % 12
      // per-row Deflater work is CPU-bound on the single local split
      // — spread first (the q241 rule)
      val docs = t(s, dir, "documents").select(id, col("text"))
        .repartition(32, id)
      val tb = col("text").cast("binary")
      val gz = Inflate.gzipCompress(tb)
      val body =
        when(a === 0, concat(to_binary(lit("0000"), lit("hex")), gz))
          .when(a === 1, concat(gz, to_binary(lit("6a756e6b"), lit("hex"))))
          .when(a === 2,
            concat(gz, Inflate.gzipCompress(lit(" tail").cast("binary"))))
          .when(a === 3, Inflate.zlibCompress(tb))
          .when(a === 4, Inflate.rawDeflateCompress(tb))
          .when(a === 5, gz.substr(lit(1), length(gz) - 4))
          .when(a === 6, concat(gz.substr(lit(1), length(gz) - 8),
            to_binary(lit("00000000ffffffff"), lit("hex"))))
          .otherwise(gz)
      val decoded = when(a === 3 || a === 4,
          Inflate.inflateDeflate(body, InflateCapBytes))
        .otherwise(Inflate.gunzip(body, InflateCapBytes))
      docs.select(id, decoded.cast("string").as("decoded"))
    },
      // inflate mirror: the q241 inversion — the oracle never parses
      // bytes, it reproduces the round-trip contract per arm (hostile
      // arms NULL; multi-member appends ' tail', +5 octets against the
      // cap; the cap rule in DuckDB strlen = UTF-8 octets)
      s"""SELECT doc_id,
         |  CASE
         |    WHEN doc_id % 12 IN (0, 1, 5, 6) THEN NULL
         |    WHEN doc_id % 12 = 2 THEN
         |      CASE WHEN strlen(text) + 5 > $InflateCapBytes THEN NULL
         |           ELSE text || ' tail' END
         |    WHEN strlen(text) > $InflateCapBytes THEN NULL
         |    ELSE text END AS decoded
         |FROM documents""".stripMargin),

    // ── charset transcoding (plans.Transcode — the step between
    // inflate and the tokenizer; Spark's own decode() stops at the
    // UTF family + latin-1, far short of the legacy web). The q241
    // inversion: non-UTF-8 bytes are AUTHORED IN-PLAN from known
    // text via EncodeCharset, decoded back strict, and the oracle
    // reproduces the expected text per arm closed-form (chr()
    // codepoints — the q303 discipline). Arms (doc_id % 8): 0
    // windows-1252 with é AND € (the 0x80 point latin-1 lacks), 1
    // iso-8859-1, 2 shift_jis katakana, 3 euc-jp kanji, 4
    // windows-1251 Cyrillic — all round-trip; 5 a non-allowlisted
    // charset (utf-7) routes NULL at ENCODE (no forName surface), 6
    // a WRONG declaration (cp1252 bytes declared utf-8) routes NULL
    // at strict DECODE (the é byte is malformed UTF-8), 7 an
    // unmappable ask (€ into iso-8859-1) routes NULL at encode. ──
    QuerySpec("q307_charset_transcode", (s, dir) => {
      import graft.plans.Transcode
      val id = col("doc_id")
      val a = id % 8
      val docs = t(s, dir, "documents").select(id, col("text"))
        .repartition(32, id)
      val t1252 = concat(col("text"), lit(" caf\u00E9 \u20AC9"))
      val tL1 = concat(col("text"), lit(" caf\u00E9 r\u00E9sum\u00E9"))
      val tSjis = concat(col("text"), lit(" \u30AB\u30D5\u30A7"))
      val tEuc = concat(col("text"), lit(" \u65E5\u672C\u8A9E"))
      val t1251 = concat(col("text"),
        lit(" \u043F\u0440\u0438\u0432\u0435\u0442"))
      val bytes =
        when(a === 0, Transcode.encode(t1252, lit("windows-1252")))
          .when(a === 1, Transcode.encode(tL1, lit("iso-8859-1")))
          .when(a === 2, Transcode.encode(tSjis, lit("shift_jis")))
          .when(a === 3, Transcode.encode(tEuc, lit("euc-jp")))
          .when(a === 4, Transcode.encode(t1251, lit("windows-1251")))
          .when(a === 5, Transcode.encode(col("text"), lit("utf-7")))
          .when(a === 6, Transcode.encode(t1252, lit("cp1252")))
          .otherwise(Transcode.encode(t1252, lit("iso-8859-1")))
      val declared =
        when(a === 0, lit("windows-1252"))
          .when(a === 1, lit("iso-8859-1"))
          .when(a === 2, lit("shift_jis"))
          .when(a === 3, lit("euc-jp"))
          .when(a === 4, lit("windows-1251"))
          .when(a === 5, lit("utf-7"))
          .when(a === 6, lit("utf-8")) // the wrong-declaration arm
          .otherwise(lit("iso-8859-1"))
      docs.select(id,
        when(asciiGuard("q307_charset_transcode", id).isNull,
          Transcode.toUtf8(bytes, declared)).as("decoded"))
    },
      // transcode mirror: the q306 inversion — expected text per arm
      // closed-form in chr() codepoints (233 é, 8364 €, 12459/12501/
      // 12455 katakana, 26085/26412/35486 kanji, 1087..1090 Cyrillic);
      // the three routed arms (unknown charset, wrong declaration,
      // unmappable ask) are NULL
      """SELECT doc_id,
        |  CASE doc_id % 8
        |    WHEN 0 THEN text || ' caf' || chr(233) || ' ' || chr(8364) || '9'
        |    WHEN 1 THEN text || ' caf' || chr(233) || ' r' || chr(233)
        |      || 'sum' || chr(233)
        |    WHEN 2 THEN text || ' ' || chr(12459) || chr(12501) || chr(12455)
        |    WHEN 3 THEN text || ' ' || chr(26085) || chr(26412) || chr(35486)
        |    WHEN 4 THEN text || ' ' || chr(1087) || chr(1088) || chr(1080)
        |      || chr(1074) || chr(1077) || chr(1090)
        |    ELSE NULL END AS decoded
        |FROM documents""".stripMargin),

    // ── the FETCH-DECODE capstone (ext.FetchDecode — q306's inflate
    // + q307's transcode + q236's framing composed into ONE total
    // bytes→text decision table, the stage a real crawl pipeline
    // runs between WARC payload and tokenizer). Records are authored
    // in-plan as REAL bytes (ASCII head + body through the encode/
    // compress expressions); the oracle reproduces every output
    // column closed-form per arm. Arms (doc_id % 14): 0 undeclared
    // utf-8 (strict-utf8 leg), 1 gzip + header cp1252 (é AND €), 2
    // zlib deflate + META-sniffed shift_jis, 3 BOM beating a LYING
    // shift_jis header, 4 undeclared cp1252 é (lenient fallback
    // leg), 5 WRONG utf-8 declaration over cp1252 bytes (lenient:
    // the é byte mints U+FFFD — the mojibake gate's food, not a
    // kill), 6 404, 7 wrong media type, 8 unsupported CE (br), 9
    // chunked TE (route upstream to decodeChunked), 10 corrupt gzip,
    // 11 declared-but-unsupported charset (utf-7), 12 no status line
    // (malformed), 13 a gzip BOMB (repeat×50 ≥ 2200 bytes vs the
    // 2000 cap; ok-arm payloads top out at 647 — both margins hold
    // at every SF, lengths checked 44-577). ──
    QuerySpec("q308_fetch_decode", (s, dir) => {
      import graft.ext.FetchDecode
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(32, col("doc_id"))
      FetchDecode.decodeResponses(fetchFixture(docs), "doc_id", "raw",
        maxBytes = FetchMaxBytes)
    },
      // fetch-decode mirror: every output column closed-form per arm
      // (the oracle never parses bytes — arms are disjoint by doc_id %
      // 14, so no precedence logic is needed; chr(233) é, chr(8364) €,
      // chr(12459/12501/12455) kana, chr(65533) U+FFFD)
      FetchDecodeArmsSql),

    // ── encoding-damage / mojibake gate (TextAnalysis
    // .encodingDamage — the detector for what q308's LENIENT legs
    // let through by design). Arms (doc_id % 5): 0 clean, 1 three
    // planted U+FFFD (replacement_damage — ≥5084 ppm at the longest
    // doc vs the 1000 threshold), 2 three double-encoded é
    // (Ã© = chr(195)+chr(169) — the utf-8-as-cp1252 signature,
    // 3 pairs ≥ the 2-pair floor), 3 five raw C1 controls
    // (c1_controls), 4 the BENIGN twin — genuine é accents plus a
    // bare Ã before a space: none of the three signals may fire. ──
    QuerySpec("q309_encoding_damage", (s, dir) => {
      import graft.ext.TextAnalysis
      val id = col("doc_id")
      val a = id % 5
      val txt =
        when(a === 1, concat(col("text"),
          lit(" caf\uFFFD r\uFFFDsum\uFFFD")))
          .when(a === 2, concat(col("text"),
            lit(" caf\u00C3\u00A9 r\u00C3\u00A9sum\u00C3\u00A9")))
          .when(a === 3, concat(col("text"),
            lit(" x\u0080\u0081\u0090\u008D\u0099")))
          .when(a === 4, concat(col("text"),
            lit(" caf\u00E9 r\u00E9sum\u00E9 \u00C3 ok")))
          .otherwise(col("text"))
      TextAnalysis.encodingDamage(
        t(s, dir, "documents").repartition(32, id)
          .select(id, txt.as("text")),
        "doc_id", "text")
    },
      // encoding-damage mirror: arms closed-form (chr(65533) U+FFFD,
      // chr(195)+chr(169) the double-encoded é, chr(128..153) C1,
      // chr(233) genuine é), the three char classes INTERPOLATED from
      // the operator's constants (the q304 InvisibleClass discipline —
      // \x{...} parses identically in Java regex and RE2), rates in
      // exact-integer // division, thresholds interpolated
      (s"WITH p AS (SELECT doc_id, doc_id % 5 AS a, text FROM documents),\n" +
        """d AS (SELECT doc_id, CASE a
          |  WHEN 1 THEN text || ' caf' || chr(65533) || ' r' || chr(65533)
          |    || 'sum' || chr(65533)
          |  WHEN 2 THEN text || ' caf' || chr(195) || chr(169) || ' r'
          |    || chr(195) || chr(169) || 'sum' || chr(195) || chr(169)
          |  WHEN 3 THEN text || ' x' || chr(128) || chr(129) || chr(144)
          |    || chr(141) || chr(153)
          |  WHEN 4 THEN text || ' caf' || chr(233) || ' r' || chr(233)
          |    || 'sum' || chr(233) || ' ' || chr(195) || ' ok'
          |  ELSE text END AS text FROM p),
          |""".stripMargin +
        s"c AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, " +
        s"CAST(len(regexp_extract_all(text, " +
        s"'${graft.ext.TextAnalysis.FffdClass}')) AS BIGINT) AS n_fffd, " +
        s"CAST(len(regexp_extract_all(text, " +
        s"'${graft.ext.TextAnalysis.MojibakePairClass}')) AS BIGINT) " +
        s"AS moji_pairs, " +
        s"CAST(len(regexp_extract_all(text, " +
        s"'${graft.ext.TextAnalysis.C1Class}')) AS BIGINT) AS n_c1 FROM d),\n" +
        s"r AS (SELECT doc_id, n_chars, moji_pairs, " +
        s"CAST((n_fffd * 1000000) // greatest(n_chars, 1) AS BIGINT) " +
        s"AS fffd_ppm, " +
        s"CAST((n_c1 * 1000000) // greatest(n_chars, 1) AS BIGINT) " +
        s"AS c1_ppm FROM c)\n" +
        s"SELECT doc_id, n_chars, fffd_ppm, moji_pairs, c1_ppm, " +
        s"CASE WHEN fffd_ppm >= ${graft.ext.TextAnalysis.FffdMaxPpm} " +
        s"THEN 'replacement_damage' " +
        s"WHEN moji_pairs >= ${graft.ext.TextAnalysis.MojiMinPairs} " +
        s"THEN 'double_encoded' " +
        s"WHEN c1_ppm >= ${graft.ext.TextAnalysis.C1MaxPpm} " +
        s"THEN 'c1_controls' ELSE 'clean' END AS verdict FROM r")),

    // ── STREAMING fetch-decode twin: q308's decision table on a
    // live ingest (the q232 stateless-map discipline); records ride
    // base64 inside the JSONL waves (byte-exact), two waves must
    // accumulate the identical table — certified against q308's
    // oracle VERBATIM via the SHARED fetchFixture builder. ──
    QuerySpec("q311_fetch_decode_stream", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.streaming.StreamingReports.fetchDecodeStreamReplay(
        s, fetchFixture(docs), maxBytes = FetchMaxBytes)
    },
      // IDENTICAL SQL to q308: the streaming twin accumulates the same
      // table from two waves (the q232 discipline).
      FetchDecodeArmsSql),

    // ── the WARC-FETCH CORPUS capstone — the actual Common Crawl
    // shape end-to-end: a gzip-bodied HTTP response per doc, framed
    // into multi-record WARC archives (8 members each, ordered
    // collect re-join), split back out by Content-Length walking
    // (WarcRecord), each payload re-encoded to bytes through the
    // lossless ISO-8859-1 bridge and decoded by FetchDecode. The
    // bridge RESOLVES WarcRecord's documented chars-vs-octets
    // divergence: on a latin-1-bridged blob, characters ARE octets,
    // so the declared Content-Length slices exactly — even through
    // gzip payload bytes that contain \r\n\r\n sequences (which is
    // why slicing, not separator scanning, is the design). The
    // %13=0 members carry a corrupt gzip body: they must route
    // bad_inflate WITHOUT disturbing their archive siblings (the
    // per-record isolation contract). ──
    QuerySpec("q312_warc_fetch_corpus", (s, dir) => {
      import graft.ext.{FetchDecode, WarcRecord}
      import graft.plans.{Inflate, Transcode}
      val id = col("doc_id")
      val docs = t(s, dir, "documents").select(id, col("text"))
        .repartition(32, id)
      val head = lit("HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/html; charset=windows-1252\r\n" +
        "Content-Encoding: gzip\r\n\r\n")
      val bodyBytes = when(id % 13 === 0, lit("junk").cast("binary"))
        .otherwise(Inflate.gzipCompress(Transcode.encode(
          concat(col("text"), lit(" caf\u00E9")), lit("windows-1252"))))
      val recStr = concat(head, decode(bodyBytes, "ISO-8859-1"))
      val member = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\n" +
          "WARC-Target-URI: http://ex.com/"),
        id.cast("string"),
        lit("\r\nContent-Length: "), length(recStr).cast("string"),
        lit("\r\n\r\n"), recStr, lit("\r\n\r\n"))
      val archives = docs
        .select(expr("CAST(doc_id DIV 8 AS BIGINT)").as("archive_id"),
          struct(id, member.as("m")).as("sm"))
        .groupBy("archive_id")
        .agg(concat_ws("", transform(array_sort(collect_list(col("sm"))),
          x => x.getField("m"))).as("blob"))
      val recs = WarcRecord.splitRecords(archives, "archive_id", "blob")
        .select(regexp_extract(col("target_uri"), "/([0-9]+)$", 1)
          .cast("long").as("doc_id"),
          encode(col("payload"), "ISO-8859-1").as("raw"))
      FetchDecode.decodeResponses(recs, "doc_id", "raw",
          maxBytes = FetchMaxBytes)
        .select(col("doc_id"), col("decision"), col("text"))
    },
      // warc-fetch mirror: closed-form per doc — ok/text+é unless the
      // %13 corrupt-gzip arm routes bad_inflate; the oracle never sees
      // the archive framing (it must be invisible by construction)
      """SELECT doc_id,
        |  CASE WHEN doc_id % 13 = 0 THEN 'bad_inflate' ELSE 'ok' END
        |    AS decision,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE text || ' caf' || chr(233) END AS text
        |FROM documents""".stripMargin),

    // ── UTF-16 fetch legs (the BOM story completed: q308 certified
    // the UTF-8 BOM; real UTF-16 pages ship FF FE / FE FF, and
    // without these legs they garble through the cp1252 fallback).
    // Arms (doc_id % 5): 0 BOM16LE + utf-16le body, 1 BOM16BE +
    // utf-16be body, 2 BOM16LE beating a LYING shift_jis header, 3
    // the UTF-8 BOM regression guard against the new ordering, 4
    // headerless-BOM-less utf-16le DECLARED by the header — the
    // header leg must decode it (utf-16le is allowlisted). ──
    QuerySpec("q314_utf16_fetch", (s, dir) => {
      import graft.ext.FetchDecode
      import graft.plans.Transcode
      val id = col("doc_id")
      val a = id % 5
      val docs = t(s, dir, "documents").select(id, col("text"))
        .repartition(32, id)
      def mkHead(lines: String*) = lit(lines.mkString("", "\r\n", "\r\n\r\n"))
      val okHtml = mkHead("HTTP/1.1 200 OK", "Content-Type: text/html")
      val bomLe = to_binary(lit("fffe"), lit("hex"))
      val bomBe = to_binary(lit("feff"), lit("hex"))
      val bom8 = to_binary(lit("efbbbf"), lit("hex"))
      val t16 = concat(col("text"), lit(" caf\u00E9 16"))
      val headCol =
        when(a === 2, mkHead("HTTP/1.1 200 OK",
          "Content-Type: text/html; charset=shift_jis"))
          .when(a === 4, mkHead("HTTP/1.1 200 OK",
            "Content-Type: text/html; charset=utf-16le"))
          .otherwise(okHtml)
      val body =
        when(a === 0 || a === 2,
          concat(bomLe, Transcode.encode(t16, lit("utf-16le"))))
          .when(a === 1, concat(bomBe, Transcode.encode(t16, lit("utf-16be"))))
          .when(a === 3, concat(bom8, t16.cast("binary")))
          .otherwise(Transcode.encode(t16, lit("utf-16le")))
      FetchDecode.decodeResponses(
        docs.select(id, FetchDecode.responseRecord(headCol, body).as("raw")),
        "doc_id", "raw", maxBytes = FetchMaxBytes)
    },
      // utf-16 fetch mirror: closed-form per arm; every arm is 200/
      // text/html and decodes to text || ' caf' || chr(233) || ' 16'
      """SELECT doc_id, 200 AS status, 'text/html' AS content_type,
        |  CASE doc_id % 5
        |    WHEN 1 THEN 'utf-16be' WHEN 3 THEN 'utf-8'
        |    ELSE 'utf-16le' END AS charset,
        |  CASE doc_id % 5 WHEN 4 THEN 'header' ELSE 'bom' END AS cs_source,
        |  'ok' AS decision,
        |  text || ' caf' || chr(233) || ' 16' AS text
        |FROM documents""".stripMargin),

    // ── text/plain media intake (FetchDecode's round-16 mediaTypes
    // allowlist — real crawls carry plain-text documents the charset
    // machinery decodes identically): arms (doc_id % 6): 0
    // text/plain + declared cp1252 (the legacy-charset leg on a
    // plain body), 1 text/plain undeclared utf-8 (strict leg), 2
    // text/html control, 3 application/json — STILL bad_type under
    // the extended allowlist, 4 text/plain + gzip (two-stage), 5
    // text/plain whose body CONTAINS '<meta charset=koi8-r>' as
    // literal text — under html the meta-sniff leg would fire, and
    // it still does here BY DESIGN (the WHATWG prescan is
    // content-sniffing; the arm pins that behavior so a future
    // 'plain disables sniff' change must re-certify consciously —
    // body authored in koi8-r so the sniff decodes it CORRECTLY). ──
    QuerySpec("q352_fetch_text_plain", (s, dir) => {
      import graft.ext.FetchDecode
      import graft.plans.{Inflate, Transcode}
      val id = col("doc_id")
      val a = id % 6
      val docs = t(s, dir, "documents").select(id, col("text"))
        .repartition(32, id)
      def mkHead(lines: String*) = lit(lines.mkString("", "\r\n", "\r\n\r\n"))
      val headC =
        when(a === 0, mkHead("HTTP/1.1 200 OK",
          "Content-Type: text/plain; charset=windows-1252"))
          .when(a === 2, mkHead("HTTP/1.1 200 OK", "Content-Type: text/html"))
          .when(a === 3, mkHead("HTTP/1.1 200 OK",
            "Content-Type: application/json"))
          .when(a === 4, mkHead("HTTP/1.1 200 OK",
            "Content-Type: text/plain", "Content-Encoding: gzip"))
          .otherwise(mkHead("HTTP/1.1 200 OK", "Content-Type: text/plain"))
      val body =
        when(a === 0, Transcode.encode(
          concat(col("text"), lit(" caf\u00E9 txt")), lit("windows-1252")))
          .when(a === 4, Inflate.gzipCompress(col("text").cast("binary")))
          .when(a === 5, Transcode.encode(
            concat(lit("<meta charset=koi8-r> \u043C\u0438\u0440 "),
              col("text")), lit("koi8-r")))
          .otherwise(col("text").cast("binary"))
      FetchDecode.decodeResponses(
        docs.select(id, FetchDecode.responseRecord(headC, body).as("raw")),
        "doc_id", "raw", maxBytes = FetchMaxBytes,
        mediaTypes = FetchDecode.TextMediaTypes)
    },
      // text/plain mirror: closed-form per arm (the disjoint-arms
      // discipline); arm 5 pins the WHATWG content-sniff firing on a
      // plain body BY DESIGN
      """SELECT doc_id, 200 AS status,
        |  CASE doc_id % 6 WHEN 2 THEN 'text/html'
        |    WHEN 3 THEN 'application/json' ELSE 'text/plain' END
        |    AS content_type,
        |  CASE doc_id % 6 WHEN 0 THEN 'windows-1252' WHEN 3 THEN ''
        |    WHEN 5 THEN 'koi8-r' ELSE 'utf-8' END AS charset,
        |  CASE doc_id % 6 WHEN 0 THEN 'header' WHEN 3 THEN ''
        |    WHEN 5 THEN 'meta' ELSE 'utf8' END AS cs_source,
        |  CASE doc_id % 6 WHEN 3 THEN 'bad_type' ELSE 'ok' END AS decision,
        |  CASE doc_id % 6
        |    WHEN 0 THEN text || ' caf' || chr(233) || ' txt'
        |    WHEN 3 THEN NULL
        |    WHEN 5 THEN '<meta charset=koi8-r> ' || chr(1084) || chr(1080)
        |      || chr(1088) || ' ' || text
        |    ELSE text END AS text
        |FROM documents""".stripMargin),

    // ── UTF-32 fetch legs (the round-15 verdict's documented BOM
    // gap closed: the 4-byte BOMs are checked BEFORE the UTF-16
    // prefixes they SHADOW — FF FE 00 00 starts with FF FE, so
    // before this leg a UTF-32LE page mis-rode the utf-16le leg and
    // garbled into NUL-interleaved text). Arms (doc_id % 5): 0
    // BOM32LE + utf-32le body — the mis-ride probe itself; 1 BOM32BE
    // + utf-32be body (00 00 FE FF is disjoint from the FE FF check
    // only because the 4-byte legs run first); 2 BOM32LE beating a
    // LYING shift_jis header; 3 the UTF-16LE REGRESSION GUARD —
    // BOM16LE + utf-16le body whose first char is ASCII (prefix
    // FF FE xx 00, xx≠0), which must still ride utf-16le under the
    // new ordering; 4 BOM-less utf-32le DECLARED by the header (the
    // allowlist leg for the new charset pair). ──
    QuerySpec("q329_utf32_fetch", (s, dir) => {
      import graft.ext.FetchDecode
      import graft.plans.Transcode
      val id = col("doc_id")
      val a = id % 5
      val docs = t(s, dir, "documents").select(id, col("text"))
        .repartition(32, id)
      def mkHead(lines: String*) = lit(lines.mkString("", "\r\n", "\r\n\r\n"))
      val okHtml = mkHead("HTTP/1.1 200 OK", "Content-Type: text/html")
      val bom32le = to_binary(lit("fffe0000"), lit("hex"))
      val bom32be = to_binary(lit("0000feff"), lit("hex"))
      val bom16le = to_binary(lit("fffe"), lit("hex"))
      val t32 = concat(col("text"), lit(" caf\u00E9 32"))
      val headCol =
        when(a === 2, mkHead("HTTP/1.1 200 OK",
          "Content-Type: text/html; charset=shift_jis"))
          .when(a === 4, mkHead("HTTP/1.1 200 OK",
            "Content-Type: text/html; charset=utf-32le"))
          .otherwise(okHtml)
      val body =
        when(a === 0 || a === 2,
          concat(bom32le, Transcode.encode(t32, lit("utf-32le"))))
          .when(a === 1, concat(bom32be, Transcode.encode(t32, lit("utf-32be"))))
          .when(a === 3, concat(bom16le, Transcode.encode(t32, lit("utf-16le"))))
          .otherwise(Transcode.encode(t32, lit("utf-32le")))
      FetchDecode.decodeResponses(
        docs.select(id, FetchDecode.responseRecord(headCol, body).as("raw")),
        "doc_id", "raw", maxBytes = FetchMaxBytes)
    },
      // utf-32 fetch mirror: closed-form per arm; every arm is 200/
      // text/html and decodes to text || ' caf' || chr(233) || ' 32'
      """SELECT doc_id, 200 AS status, 'text/html' AS content_type,
        |  CASE doc_id % 5
        |    WHEN 1 THEN 'utf-32be' WHEN 3 THEN 'utf-16le'
        |    ELSE 'utf-32le' END AS charset,
        |  CASE doc_id % 5 WHEN 4 THEN 'header' ELSE 'bom' END AS cs_source,
        |  'ok' AS decision,
        |  text || ' caf' || chr(233) || ' 32' AS text
        |FROM documents""".stripMargin),

    // ── zstd inflate (round-15 forward item #5: RFC 8878 joins the
    // Content-Encoding allowlist via the zstd-jni Spark bundles —
    // q306's contract re-certified on the new format). The q241
    // inversion: bodies compressed IN-PLAN, the oracle only ever
    // sees the round-trip. Arms (doc_id % 7): 0 bad magic, 1
    // trailing garbage (libzstd refuses non-frame tails), 2 frame
    // CONCATENATION (legal per §3.1 — decodes to the concatenation),
    // 3 truncated (checksum bytes removed), 4 corrupt checksum
    // (last 4 bytes zeroed — our compressor always WRITES the
    // optional xxhash64 checksum, so integrity is verified; the
    // q306 arm-6 fixed-trailer device), 5 a zstd BOMB vs the cap,
    // else plain — which the 400-byte cap splits both ways like
    // q306's plain arms. ──
    QuerySpec("q321_zstd_inflate", (s, dir) => {
      import graft.plans.Inflate
      val id = col("doc_id")
      val a = id % 7
      val docs = t(s, dir, "documents").select(id, col("text"))
        .repartition(32, id)
      val tb = col("text").cast("binary")
      val z = Inflate.zstdCompress(tb)
      val body =
        when(a === 0, concat(to_binary(lit("0000"), lit("hex")), z))
          .when(a === 1, concat(z, to_binary(lit("6a756e6b"), lit("hex"))))
          .when(a === 2,
            concat(z, Inflate.zstdCompress(lit(" tail").cast("binary"))))
          .when(a === 3, z.substr(lit(1), length(z) - 4))
          .when(a === 4, concat(z.substr(lit(1), length(z) - 4),
            to_binary(lit("00000000"), lit("hex"))))
          .when(a === 5,
            Inflate.zstdCompress(repeat(col("text"), 50).cast("binary")))
          .otherwise(z)
      docs.select(id,
        Inflate.unzstd(body, InflateCapBytes).cast("string").as("decoded"))
    },
      // zstd inflate mirror (the q306 shape on the new format): routed
      // arms NULL, the concatenation and plain arms split by the cap
      s"""SELECT doc_id,
         |  CASE
         |    WHEN doc_id % 7 IN (0, 1, 3, 4, 5) THEN NULL
         |    WHEN doc_id % 7 = 2 THEN
         |      CASE WHEN strlen(text) + 5 > $InflateCapBytes THEN NULL
         |           ELSE text || ' tail' END
         |    WHEN strlen(text) > $InflateCapBytes THEN NULL
         |    ELSE text END AS decoded
         |FROM documents""".stripMargin),

    // ── fetch-decode zstd route (q308's table on the new encoding):
    // Content-Encoding: zstd payloads decode in-line — ok, corrupt
    // (bad_inflate), bomb vs the q308 cap (bad_inflate), and an
    // identity control arm; all bodies ASCII so the ok arms ride the
    // strict-utf8 leg closed-form. ──
    QuerySpec("q322_fetch_zstd", (s, dir) => {
      import graft.ext.FetchDecode
      import graft.plans.Inflate
      val id = col("doc_id")
      val a = id % 4
      val docs = t(s, dir, "documents").select(id, col("text"))
        .repartition(32, id)
      val zHead = lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        "Content-Encoding: zstd\r\n\r\n")
      val okHead = lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n")
      val headC = when(a === 3, okHead).otherwise(zHead)
      val body =
        when(a === 1, lit("junkjunk").cast("binary"))
          .when(a === 2,
            Inflate.zstdCompress(repeat(col("text"), 50).cast("binary")))
          .when(a === 3, col("text").cast("binary"))
          .otherwise(Inflate.zstdCompress(col("text").cast("binary")))
      FetchDecode.decodeResponses(
        docs.select(id, FetchDecode.responseRecord(headC, body).as("raw")),
        "doc_id", "raw", maxBytes = FetchMaxBytes)
    },
      // fetch-decode zstd mirror: closed-form per arm (ASCII bodies →
      // the ok arms are the strict-utf8 leg)
      """SELECT doc_id, 200 AS status, 'text/html' AS content_type,
        |  CASE WHEN doc_id % 4 IN (0, 3) THEN 'utf-8' ELSE '' END AS charset,
        |  CASE WHEN doc_id % 4 IN (0, 3) THEN 'utf8' ELSE '' END AS cs_source,
        |  CASE WHEN doc_id % 4 IN (1, 2) THEN 'bad_inflate' ELSE 'ok' END
        |    AS decision,
        |  CASE WHEN doc_id % 4 IN (0, 3) THEN text ELSE NULL END AS text
        |FROM documents""".stripMargin),

    // ── chunked Transfer-Encoding IN-LINE (round 16: FetchDecode
    // stops punting chunked upstream — q308's arm 9 keeps its route
    // because a NON-chunk-framed body under TE: chunked is a chunk
    // FRAMING violation, same class, and every certified fetch
    // oracle stays verbatim). Arms (doc_id % 6): 0 chunked identity
    // content (256-byte chunks → strict-utf8 leg), 1 chunked OVER
    // gzip+cp1252 (RFC 9112: TE wraps CE on the wire, so de-chunk
    // precedes inflate — the full three-layer unwrap), 2 a plain
    // body under TE: chunked (bad framing → bad_encoding), 3 a
    // chunk-framed body TRUNCATED before the terminal 0-chunk
    // (bad_encoding), 4 an unsupported TE value (gzip) —
    // bad_encoding, 5 no TE control (plain ok). ──
    QuerySpec("q323_fetch_chunked", (s, dir) => {
      import graft.ext.{FetchDecode, HttpRecord}
      import graft.plans.{Inflate, Transcode}
      val id = col("doc_id")
      val a = id % 6
      val docs = t(s, dir, "documents").select(id, col("text"))
        .repartition(32, id)
      def mkHead(lines: String*) = lit(lines.mkString("", "\r\n", "\r\n\r\n"))
      val chHead = mkHead("HTTP/1.1 200 OK", "Content-Type: text/html",
        "Transfer-Encoding: chunked")
      val headC =
        when(a === 1, mkHead("HTTP/1.1 200 OK",
          "Content-Type: text/html; charset=windows-1252",
          "Content-Encoding: gzip", "Transfer-Encoding: chunked"))
          .when(a === 4, mkHead("HTTP/1.1 200 OK",
            "Content-Type: text/html", "Transfer-Encoding: gzip"))
          .when(a === 5, mkHead("HTTP/1.1 200 OK",
            "Content-Type: text/html"))
          .otherwise(chHead)
      val gzBridged = decode(Inflate.gzipCompress(Transcode.encode(
        concat(col("text"), lit(" caf\u00E9")), lit("windows-1252"))),
        "ISO-8859-1")
      val framed = HttpRecord.chunkedFrame(col("text"), 256)
      val bodyStr =
        when(a === 1, HttpRecord.chunkedFrame(gzBridged, 256))
          .when(a === 3, framed.substr(lit(1), length(framed) - 5))
          .when(a === 0, framed)
          .otherwise(col("text"))
      val raw = concat(encode(headC, "ISO-8859-1"),
        encode(bodyStr, "ISO-8859-1"))
      FetchDecode.decodeResponses(docs.select(id, raw.as("raw")),
        "doc_id", "raw", maxBytes = FetchMaxBytes)
    },
      // chunked-TE mirror: closed-form per arm — the de-chunk, gunzip
      // and cp1252 legs are all inversions of in-plan authoring, so
      // the oracle never parses bytes (chr(233) é)
      """SELECT doc_id, 200 AS status, 'text/html' AS content_type,
        |  CASE doc_id % 6 WHEN 0 THEN 'utf-8' WHEN 5 THEN 'utf-8'
        |    WHEN 1 THEN 'windows-1252' ELSE '' END AS charset,
        |  CASE doc_id % 6 WHEN 0 THEN 'utf8' WHEN 5 THEN 'utf8'
        |    WHEN 1 THEN 'header' ELSE '' END AS cs_source,
        |  CASE WHEN doc_id % 6 IN (2, 3, 4) THEN 'bad_encoding'
        |    ELSE 'ok' END AS decision,
        |  CASE doc_id % 6 WHEN 0 THEN text WHEN 5 THEN text
        |    WHEN 1 THEN text || ' caf' || chr(233)
        |    ELSE NULL END AS text
        |FROM documents""".stripMargin),

    // ── charset allowlist MATRIX (q307 certified five of the
    // allowlisted charsets + the three routes; this closes the rest
    // of the matrix, so no allowlist entry ships uncertified): koi8-r
    // Cyrillic, GBK and Big5 CJK, iso-8859-2 háček/acute Latin-2,
    // iso-8859-15 with the € at 0xA4 and œ — all strict round-trips
    // through EncodeCharset → TranscodeUtf8. ──
    QuerySpec("q317_charset_matrix", (s, dir) => {
      import graft.plans.Transcode
      val id = col("doc_id")
      val a = id % 5
      val docs = t(s, dir, "documents").select(id, col("text"))
        .repartition(32, id)
      val cs =
        when(a === 0, lit("koi8-r"))
          .when(a === 1, lit("gbk"))
          .when(a === 2, lit("big5"))
          .when(a === 3, lit("iso-8859-2"))
          .otherwise(lit("iso-8859-15"))
      val planted =
        when(a === 0, concat(col("text"),
          lit(" \u043C\u0438\u0440")))
          .when(a === 1, concat(col("text"),
            lit(" \u4F60\u597D\u4E16\u754C")))
          .when(a === 2, concat(col("text"), lit(" \u53F0\u5317")))
          .when(a === 3, concat(col("text"),
            lit(" \u010Desk\u00FD")))
          .otherwise(concat(col("text"),
            lit(" \u20AC\u0153uvre")))
      docs.select(id, cs.as("charset"),
        Transcode.toUtf8(Transcode.encode(planted, cs), cs).as("decoded"))
    },
      // charset-matrix mirror: closed-form per arm (chr codepoints:
      // мир 1084/1080/1088, 你好世界 20320/22909/19990/30028, 台北
      // 21488/21271, č 269 / ý 253, € 8364 / œ 339)
      """SELECT doc_id,
        |  CASE doc_id % 5
        |    WHEN 0 THEN 'koi8-r' WHEN 1 THEN 'gbk' WHEN 2 THEN 'big5'
        |    WHEN 3 THEN 'iso-8859-2' ELSE 'iso-8859-15' END AS charset,
        |  CASE doc_id % 5
        |    WHEN 0 THEN text || ' ' || chr(1084) || chr(1080) || chr(1088)
        |    WHEN 1 THEN text || ' ' || chr(20320) || chr(22909)
        |      || chr(19990) || chr(30028)
        |    WHEN 2 THEN text || ' ' || chr(21488) || chr(21271)
        |    WHEN 3 THEN text || ' ' || chr(269) || 'esk' || chr(253)
        |    ELSE text || ' ' || chr(8364) || chr(339) || 'uvre'
        |    END AS decoded
        |FROM documents""".stripMargin),

    // ── chunked transfer-decoding (HttpRecord.decodeChunked): the
    // fixture CHUNKS each doc's text into 15-byte frames (single
    // hex-digit sizes — '123456789abcdef'[len]) with a terminal 0
    // chunk; %13=0 bodies get a corrupted non-hex size line and must
    // come back NULL. The oracle is the ORIGINAL text itself —
    // independent truth: the decode must invert the framing exactly,
    // byte for byte. ──
    QuerySpec("q241_http_chunked", (s, dir) => {
      // the corpus parquet is a single split locally; the 64-step
      // decode fold is CPU-bound per row, so spread it (the
      // Dedup/SimHash repartition discipline)
      val docs = t(s, dir, "documents").repartition(32, col("doc_id"))
      val body = concat(
        when(col("doc_id") % 13 === 0, lit("ZZ\r\nbroken\r\n"))
          .otherwise(lit("")),
        graft.ext.HttpRecord.chunkedFrame(col("text"), 15))
      docs.select(col("doc_id"), body.as("body"))
        .select(col("doc_id"),
          graft.ext.HttpRecord.decodeChunked(col("body")).as("decoded"))
    },
      // chunked-decode oracle: the ORIGINAL text itself — independent
      // truth (the decode must invert the 15-byte framing exactly);
      // corrupted-size-line arm comes back NULL, and so does any text
      // long enough to exceed the MaxChunks framing contract (guards
      // the coupling loudly if a regenerated corpus grows longer texts
      // — today's max is 577 chars vs this bound)
      s"""SELECT doc_id,
         |  CASE WHEN doc_id % 13 = 0
         |         OR length(text) > ${15 * (graft.ext.HttpRecord.MaxChunks - 1)}
         |       THEN NULL ELSE text END AS decoded
         |FROM documents""".stripMargin)
  )
}
