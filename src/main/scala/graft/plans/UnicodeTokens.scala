package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass Unicode tokenizer — the codegen'd scale path behind
  * [[graft.ext.TextAnalysis.tokens]].
  *
  * Why a custom expression (the rung-(b) case, like
  * [[MinhashSignature]]): the SQL-function composition —
  * `regexp_extract_all(lower(translate(regexp_replace(text, CJK,
  * ' $1 '), foldSrc, foldDst)), '[\p{L}\p{M}\p{N}]+')` — walks the
  * string four times and allocates three intermediates per row
  * (isolate copy, translate copy, lowercase copy) before the two
  * regex scans; tokenization sits under the entire shingle-dedup and
  * quality-gate families, and the round-14 swap to that composition
  * measured a 25-100% regression on the token-heavy bench queries.
  * This expression reduces the work to: a byte-level fast path for
  * full-ASCII rows, and otherwise a char-level fold pass (skipped
  * unless one of the six fold chars is present), ONE
  * `CollationSupport.Lower.execBinaryICU` — the SAME lower the
  * composition's `lower()` executes, so its case tables can never
  * drift from ours
  * (they are NEWER than `Character.toLowerCase`'s: U+A7CB lowers to
  * ɤ in Spark but is unassigned to the JDK — a per-codepoint
  * reimplementation was wrong on exactly those seams until the
  * exhaustive spec caught it) — and one classify pass over
  * codepoints.
  *
  * Semantics are BIT-IDENTICAL to the composition (and therefore to
  * the DuckDB oracle mirror `duckUToks`): the fold is the same map
  * as `TextAnalysis.LowerPreFoldSrc/Dst` (it removes the İ 1:N
  * expansion and the final-sigma context rule before lower), and
  * classification is `Character.getType` — the same table Java regex
  * `\p{L}\p{M}\p{N}` reads. CJK codepoints
  * (`TextAnalysis.CjkCharClass` ranges) that classify L/M/N emit one
  * token each (a range codepoint the regex table can't classify is
  * isolated-then-dropped in the composition — mirrored here);
  * letter/mark/digit runs accumulate; anything else is a boundary.
  * PlansSpec pins expression == composition EXHAUSTIVELY per
  * codepoint over planes 0-2 in boundary/run/CJK contexts.
  *
  * Null input yields an empty array (the composition's
  * coalesce-to-'' posture), so the expression is total — callers
  * never need a null guard and the column is non-nullable.
  */
case class UnicodeTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = UnicodeTokens.fnName

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) UnicodeTokens.EmptyArray
    else UnicodeTokens.tokenize(v.asInstanceOf[UTF8String])
  }

  /** Java-name-clean trampolines for generated code (the companion is
    * `UnicodeTokens$` — keeping codegen off scala object naming).
    */
  def doTokenize(s: UTF8String): ArrayData = UnicodeTokens.tokenize(s)
  def emptyArr(): ArrayData = UnicodeTokens.EmptyArray

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val ref = ctx.addReferenceObj("utok", this, classOf[UnicodeTokens].getName)
    val resultCode =
      code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          ${childGen.isNull} ? $ref.emptyArr() : $ref.doTokenize(${childGen.value});
      """
    ev.copy(code = resultCode,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnicodeTokens {
  val fnName = "unicode_tokens"

  /** Stable empty result for null/empty input (shared — ArrayData is
    * read-only downstream).
    */
  val EmptyArray: ArrayData = new GenericArrayData(Array.empty[Any])

  // the needFold scan and the fold @switch below are MANUAL copies of
  // TextAnalysis.LowerPreFoldSrc/Dst (a switch cannot be built from a
  // runtime string); this load-time lockstep check turns silent drift
  // into an immediate failure (round-14 review finding)
  require(
    graft.ext.TextAnalysis.LowerPreFoldSrc ==
      "\u0130\uA7C7\uA7C9\uA7F5\u03A3\u03C2" &&
      graft.ext.TextAnalysis.LowerPreFoldDst ==
        "I\uA7C8\uA7CA\uA7F6\u03C3\u03C3",
    "UnicodeTokens fold tables out of lockstep with TextAnalysis.LowerPreFold*")

  /** `TextAnalysis.CjkCharClass` as range tests (spec-pinned against
    * the regex class).
    */
  def isCjk(cp: Int): Boolean =
    (cp >= 0x3041 && cp <= 0x3096) || (cp >= 0x309D && cp <= 0x30FF) ||
      (cp >= 0x31F0 && cp <= 0x31FF) || (cp >= 0x3400 && cp <= 0x4DBF) ||
      (cp >= 0x4E00 && cp <= 0x9FFF) || (cp >= 0xF900 && cp <= 0xFAFF) ||
      (cp >= 0xFF66 && cp <= 0xFF9D) || (cp >= 0x20000 && cp <= 0x2FA1F)

  /** Java regex `[\p{L}\p{M}\p{N}]` via the same Character.getType
    * table the regex engine reads.
    */
  private def isTokenChar(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.UPPERCASE_LETTER || t == Character.LOWERCASE_LETTER ||
      t == Character.TITLECASE_LETTER || t == Character.MODIFIER_LETTER ||
      t == Character.OTHER_LETTER ||
      t == Character.NON_SPACING_MARK ||
      t == Character.COMBINING_SPACING_MARK ||
      t == Character.ENCLOSING_MARK ||
      t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
      t == Character.OTHER_NUMBER
  }

  /** ASCII byte fast path, else fold pass (skipped when no fold char
    * is present) → ONE `CollationSupport.Lower.execBinaryICU` — the
    * IDENTICAL lower the composition's `lower()` runs, which matters
    * because ICU's case tables are NEWER than
    * `Character.toLowerCase`'s (e.g. U+A7CB lowers to ɤ in Spark but
    * is unassigned to the JDK's Character data — found by the
    * exhaustive PlansSpec diff) — → one classify pass. Called from
    * both interpreted eval and generated code.
    */
  def tokenize(s: UTF8String): ArrayData = {
    if (s.numBytes() == 0) return EmptyArray
    // Byte-level fast path for full-ASCII rows (the overwhelmingly
    // common case on web corpora, and ALL of the driver testdata):
    // ASCII ∩ L/M/N is exactly [A-Za-z0-9], lowercase is +32, no
    // fold char is ASCII — so this is provably the general path's
    // result without the UTF-16 decode or the ICU casing iterator
    // (TextPipelineSpec pins tokens ≡ tokensAscii on ASCII; the
    // exhaustive PlansSpec diff covers the seam codepoints).
    if (s.isFullAscii()) return tokenizeAscii(s)
    val raw = s.toString
    var needFold = false
    var k = 0
    while (k < raw.length && !needFold) {
      val ch = raw.charAt(k)
      if (ch == '\u0130' || ch == '\uA7C7' || ch == '\uA7C9' ||
        ch == '\uA7F5' || ch == '\u03A3' || ch == '\u03C2') needFold = true
      k += 1
    }
    // the EXACT entry point `lower()` resolves to under the default
    // UTF8_BINARY collation with spark.sql.icu.caseMappings.enabled
    // (the default; ICU case tables — NOT UTF8String.toLowerCase,
    // whose JDK tables lag by several Unicode versions. CONTRACT:
    // disabling that conf changes lower() but not this expression —
    // certified under the default only, like the oracle).
    def sparkLower(u: UTF8String): String =
      org.apache.spark.sql.catalyst.util.CollationSupport.Lower
        .execBinaryICU(u).toString
    val lowered =
      if (!needFold) sparkLower(s)
      else {
        val fb = new java.lang.StringBuilder(raw.length)
        var j = 0
        while (j < raw.length) {
          fb.append((raw.charAt(j): @annotation.switch) match {
            case '\u0130' => 'I'
            case '\uA7C7' => '\uA7C8'
            case '\uA7C9' => '\uA7CA'
            case '\uA7F5' => '\uA7F6'
            case '\u03A3' => '\u03C3'
            case '\u03C2' => '\u03C3'
            case c => c
          })
          j += 1
        }
        sparkLower(UTF8String.fromString(fb.toString))
      }
    val n = lowered.length
    val out = new java.util.ArrayList[AnyRef]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < n) {
      val cp = lowered.codePointAt(i)
      i += Character.charCount(cp)
      // the composition isolates CJK by RANGE but then extracts by
      // \p{L}\p{M}\p{N} — a range codepoint the regex engine's table
      // doesn't classify (unassigned-in-13, e.g. the Ext-B additions
      // past U+2A6D6) is isolated and then DROPPED; mirror both steps
      if (isCjk(cp) && isTokenChar(cp)) {
        if (sb.length > 0) {
          out.add(UTF8String.fromString(sb.toString)); sb.setLength(0)
        }
        out.add(UTF8String.fromString(new String(Character.toChars(cp))))
      } else if (isTokenChar(cp)) {
        sb.appendCodePoint(cp)
      } else if (sb.length > 0) {
        out.add(UTF8String.fromString(sb.toString)); sb.setLength(0)
      }
    }
    if (sb.length > 0) out.add(UTF8String.fromString(sb.toString))
    if (out.isEmpty) EmptyArray
    else new GenericArrayData(out.toArray)
  }

  private def tokenizeAscii(s: UTF8String): ArrayData = {
    val n = s.numBytes()
    val out = new java.util.ArrayList[AnyRef]()
    // fromBytes WRAPS the array (no copy) — each token must own a
    // copyOfRange slice or later buffer writes would corrupt it
    val buf = new Array[Byte](n)
    var len = 0
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        buf(len) = b; len += 1
      } else if (b >= 'A' && b <= 'Z') {
        buf(len) = (b + 32).toByte; len += 1
      } else if (len > 0) {
        out.add(UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(buf, 0, len))); len = 0
      }
      i += 1
    }
    if (len > 0)
      out.add(UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, 0, len)))
    if (out.isEmpty) EmptyArray
    else new GenericArrayData(out.toArray)
  }

  /** The one argument check, shared by [[of]] and the SQL name that
    * [[GraftExtensions]] binds.
    */
  private[plans] def build(children: Seq[Expression]): Expression = {
    require(children.length == 1, s"$fnName expects (string)")
    UnicodeTokens(children.head)
  }

  /** Registry-free Column entry: plans on any session. */
  def of(text: Column): Column =
    GraftSqlShim.column(build(Seq(GraftSqlShim.expression(text))))
}
