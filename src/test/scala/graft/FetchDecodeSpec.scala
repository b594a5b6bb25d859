package graft

import org.apache.spark.sql.functions._

import graft.ext.FetchDecode
import graft.plans.{Inflate, Transcode}

/** The bytes\u2192text capstone: every decision route, the charset
  * precedence order (BOM > header > meta > strict-utf8 > cp1252
  * fallback), and the lenient wrong-declaration leg. Records are
  * authored via FetchDecode.responseRecord (the shared helper the
  * certified query uses).
  */
class FetchDecodeSpec extends SparkSpec {
  import spark.implicits._

  private def head(lines: String*): String =
    lines.mkString("", "\r\n", "\r\n\r\n")
  private val okHtml = head("HTTP/1.1 200 OK", "Content-Type: text/html")

  private def decodeOne(headStr: String, body: org.apache.spark.sql.Column) = {
    val df = spark.range(1).select(lit(1L).as("id"),
      FetchDecode.responseRecord(lit(headStr), body).as("raw"))
    FetchDecode.decodeResponses(df, "id", "raw", maxBytes = 4096)
      .select("decision", "charset", "cs_source", "text")
      .collect()(0)
  }

  test("plain utf-8, undeclared: strict-utf8 leg") {
    val r = decodeOne(okHtml, lit("hello plain").cast("binary"))
    assert(r.getString(0) == "ok" && r.getString(1) == "utf-8" &&
      r.getString(2) == "utf8" && r.getString(3) == "hello plain")
  }

  test("gzip + header charset decodes through both stages") {
    val body = Inflate.gzipCompress(
      Transcode.encode(lit("caf\u00E9 \u20AC"), lit("windows-1252")))
    val r = decodeOne(head("HTTP/1.1 200 OK",
      "Content-Type: text/html; charset=windows-1252",
      "Content-Encoding: gzip"), body)
    assert(r.getString(0) == "ok" && r.getString(1) == "windows-1252" &&
      r.getString(2) == "header" && r.getString(3) == "caf\u00E9 \u20AC")
  }

  test("RFC 9110 QUOTED charset parameter resolves on the header leg") {
    val r = decodeOne(head("HTTP/1.1 200 OK",
      "Content-Type: text/html; charset=\"windows-1252\""),
      Transcode.encode(lit("caf\u00E9 quoted"), lit("windows-1252")))
    assert(r.getString(0) == "ok" && r.getString(1) == "windows-1252" &&
      r.getString(2) == "header" && r.getString(3) == "caf\u00E9 quoted")
  }

  test("meta sniff fills in when the header is silent") {
    val html = "<html><head><meta charset=shift_jis></head><body>" +
      "\u30AB\u30D5\u30A7</body></html>"
    val r = decodeOne(okHtml, Transcode.encode(lit(html), lit("shift_jis")))
    assert(r.getString(0) == "ok" && r.getString(1) == "shift_jis" &&
      r.getString(2) == "meta" && r.getString(3) == html)
  }

  test("BOM wins over a lying header and is stripped") {
    val bom = to_binary(lit("efbbbf"), lit("hex"))
    val r = decodeOne(head("HTTP/1.1 200 OK",
      "Content-Type: text/html; charset=shift_jis"),
      concat(bom, lit("caf\u00E9 utf8").cast("binary")))
    assert(r.getString(0) == "ok" && r.getString(1) == "utf-8" &&
      r.getString(2) == "bom" && r.getString(3) == "caf\u00E9 utf8")
  }

  test("UTF-16 BOMs win, strip, and pick the right endianness") {
    val le = decodeOne(head("HTTP/1.1 200 OK",
      "Content-Type: text/html; charset=shift_jis"), // lying header
      concat(to_binary(lit("fffe"), lit("hex")),
        Transcode.encode(lit("caf\u00E9 le"), lit("utf-16le"))))
    assert(le.getString(0) == "ok" && le.getString(1) == "utf-16le" &&
      le.getString(2) == "bom" && le.getString(3) == "caf\u00E9 le")
    val be = decodeOne(okHtml,
      concat(to_binary(lit("feff"), lit("hex")),
        Transcode.encode(lit("caf\u00E9 be"), lit("utf-16be"))))
    assert(be.getString(0) == "ok" && be.getString(1) == "utf-16be" &&
      be.getString(2) == "bom" && be.getString(3) == "caf\u00E9 be")
    // header-declared utf-16le without a BOM rides the header leg
    val hdr = decodeOne(head("HTTP/1.1 200 OK",
      "Content-Type: text/html; charset=utf-16le"),
      Transcode.encode(lit("caf\u00E9 h"), lit("utf-16le")))
    assert(hdr.getString(0) == "ok" && hdr.getString(2) == "header" &&
      hdr.getString(3) == "caf\u00E9 h")
  }

  test("UTF-32 BOMs win over the UTF-16 prefixes they shadow") {
    // FF FE 00 00 starts with FF FE: before the round-16 4-byte legs
    // this body mis-rode the utf-16le leg and decoded to
    // NUL-interleaved garbage — the leg is load-bearing
    val le = decodeOne(head("HTTP/1.1 200 OK",
      "Content-Type: text/html; charset=shift_jis"), // lying header
      concat(to_binary(lit("fffe0000"), lit("hex")),
        Transcode.encode(lit("café 32le"), lit("utf-32le"))))
    assert(le.getString(0) == "ok" && le.getString(1) == "utf-32le" &&
      le.getString(2) == "bom" && le.getString(3) == "café 32le")
    val be = decodeOne(okHtml,
      concat(to_binary(lit("0000feff"), lit("hex")),
        Transcode.encode(lit("café 32be"), lit("utf-32be"))))
    assert(be.getString(0) == "ok" && be.getString(1) == "utf-32be" &&
      be.getString(2) == "bom" && be.getString(3) == "café 32be")
    // REGRESSION GUARD: a real UTF-16LE page (first char ASCII, so
    // the 4-byte prefix is FF FE xx 00 with xx != 0) must still ride
    // the utf-16le leg under the new longest-first ordering
    val g = decodeOne(okHtml,
      concat(to_binary(lit("fffe"), lit("hex")),
        Transcode.encode(lit("guard 16"), lit("utf-16le"))))
    assert(g.getString(0) == "ok" && g.getString(1) == "utf-16le" &&
      g.getString(2) == "bom" && g.getString(3) == "guard 16")
    // header-declared utf-32le without a BOM rides the header leg
    val hdr = decodeOne(head("HTTP/1.1 200 OK",
      "Content-Type: text/html; charset=utf-32le"),
      Transcode.encode(lit("café h32"), lit("utf-32le")))
    assert(hdr.getString(0) == "ok" && hdr.getString(2) == "header" &&
      hdr.getString(3) == "café h32")
  }

  test("BOM false-positive class, PINNED: a cp1252 page that genuinely " +
      "starts with ÿþ is forced onto the UTF-16LE leg") {
    // 'ÿþ' in cp1252 IS the bytes FF FE — indistinguishable from a
    // UTF-16LE BOM at the byte level. The sniff (like the WHATWG
    // prescan and every browser) takes the BOM reading: the page
    // decodes as UTF-16LE and garbles ('ÿ' + 'þab' → U+6261 U+6463),
    // EVEN over an explicit cp1252 header (a BOM wins over headers by
    // rule 1). Accepted behavior, documented in the FetchDecode
    // scaladoc; this arm pins the exact route so the trade-off is
    // certified, not just described.
    val r = decodeOne(head("HTTP/1.1 200 OK",
      "Content-Type: text/html; charset=windows-1252"),
      concat(to_binary(lit("fffe"), lit("hex")),
        lit("abcd").cast("binary")))
    assert(r.getString(0) == "ok" && r.getString(1) == "utf-16le" &&
      r.getString(2) == "bom" &&
      r.getString(3) == "扡摣") // LE units of bytes 61 62 63 64
  }

  test("undeclared cp1252 bytes fall through to the lenient fallback") {
    val r = decodeOne(okHtml,
      Transcode.encode(lit("caf\u00E9 legacy"), lit("windows-1252")))
    assert(r.getString(0) == "ok" && r.getString(1) == "windows-1252" &&
      r.getString(2) == "cp1252_fallback" && r.getString(3) == "caf\u00E9 legacy")
  }

  test("wrong declaration decodes LENIENTLY with U+FFFD damage") {
    val r = decodeOne(head("HTTP/1.1 200 OK",
      "Content-Type: text/html; charset=utf-8"),
      Transcode.encode(lit("caf\u00E9!"), lit("windows-1252")))
    assert(r.getString(0) == "ok" && r.getString(2) == "header" &&
      r.getString(3) == "caf\uFFFD!")
  }

  test("every quarantine route fires and carries NULL text") {
    def route(headStr: String, body: org.apache.spark.sql.Column) = {
      val r = decodeOne(headStr, body)
      assert(r.isNullAt(3) && r.getString(1) == "" && r.getString(2) == "")
      r.getString(0)
    }
    val b = lit("x").cast("binary")
    assert(route("not http at all", b) == "malformed")
    assert(route(head("HTTP/1.1 404 NF", "Content-Type: text/html"), b)
      == "bad_status")
    assert(route(head("HTTP/1.1 200 OK", "Content-Type: text/html",
      "Transfer-Encoding: chunked"), b) == "bad_encoding")
    assert(route(head("HTTP/1.1 200 OK", "Content-Type: text/html",
      "Content-Encoding: br"), b) == "bad_encoding")
    assert(route(head("HTTP/1.1 200 OK", "Content-Type: application/json"),
      b) == "bad_type")
    assert(route(head("HTTP/1.1 200 OK", "Content-Type: text/html",
      "Content-Encoding: gzip"), lit("junkjunk").cast("binary"))
      == "bad_inflate")
    assert(route(head("HTTP/1.1 200 OK",
      "Content-Type: text/html; charset=utf-7"), b) == "bad_charset")
    // the bomb: 100k of 'A' gzips tiny but exceeds maxBytes=4096
    assert(route(head("HTTP/1.1 200 OK", "Content-Type: text/html",
      "Content-Encoding: gzip"),
      Inflate.gzipCompress(lit("A" * 100000).cast("binary")))
      == "bad_inflate")
  }

  /** CERTIFICATION-TIME GUARD (round-16 ADVICE): the q307/q308/q312/
    * q317 fixtures and their closed-form oracles assume documents.text
    * is pure ASCII — Transcode.encode(text, <legacy charset>) must
    * never hit an unmappable character (which would NULL the record
    * and route 'malformed' while the oracle expects 'ok'), and the
    * q308 arm-5 oracle (`text || chr(65533) || '!'`) assumes the text
    * itself mints no extra U+FFFDs. This test fails loudly on a corpus
    * retune instead of letting certification break mysteriously.
    */
  test("fixture contract: documents.text is ASCII at every shipped SF") {
    import graft.plans.Transcode
    val dirs = new java.io.File("/root/testdata").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("sf"))
      .map(_.getPath).sorted
    assert(dirs.nonEmpty)
    for (dir <- dirs) {
      val docs = graft.tables.Corpus.load(spark, dir, "documents")
      val bad = docs.select(
        sum(when(col("text").rlike("[^\\x00-\\x7F]"), 1).otherwise(0))
          .as("non_ascii"),
        // and directly: every fixture charset must encode every doc
        sum(when(Transcode.encode(col("text"), lit("windows-1252")).isNull ||
          Transcode.encode(col("text"), lit("shift_jis")).isNull ||
          Transcode.encode(col("text"), lit("koi8-r")).isNull ||
          Transcode.encode(col("text"), lit("big5")).isNull ||
          Transcode.encode(col("text"), lit("iso-8859-2")).isNull,
          1).otherwise(0)).as("unencodable")).head()
      assert(bad.getLong(0) == 0L, s"$dir: non-ASCII documents.text")
      assert(bad.getLong(1) == 0L, s"$dir: unencodable documents.text")
    }
  }

  test("asciiGuard trips at fixture-BUILD time: a planted non-ASCII " +
      "doc fails the build loudly with a doc_id-bearing message") {
    val docs = Seq((1L, "plain ascii doc"), (2L, "café planted"))
      .toDF("doc_id", "text")
    val ex = intercept[Throwable] {
      graft.catalog.Shared.fetchFixture(docs).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val all = messages(ex).mkString("\n")
    assert(all.contains("non-ASCII documents.text at doc_id=2"),
      s"guard must name the site and doc_id, got: $all")
    // and the guard is a no-op on a clean corpus
    assert(graft.catalog.Shared.fetchFixture(docs.filter($"doc_id" === 1L))
      .count() == 1L)
  }
}
