package graft.tools

import org.apache.spark.sql.functions._

/** Scratch probe: does Spark's lower()/regexp family agree with
  * DuckDB RE2 on the Unicode tokenizer building blocks? Run once per
  * design change; not part of the certified surface.
  */
object UnicodeProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder().getOrCreate()
    import spark.implicits._
    // the SHIPPED class, not a local copy (review finding: an inline
    // spelling here drifted from the production seams — 3097-309C and
    // halfwidth kana)
    val cjk = "(" + graft.ext.TextAnalysis.CjkCharClass + ")"
    val df = Seq(
      "Héllo Wörld 北京大学123 こんにちは мир Ελλάδα مرحبا नमस्ते",
      "Abc北京、大学です。B2B мир-труд",
      "ΕΛΛΆΔΑ İIÇŞ ß МИР",
      "ΣΙΣΥΦΟΣ ΟΔΟΣ",
      "ＡＢＣ１２３ ｱｲｳ",  // fullwidth + halfwidth kana
      "한국어 테스트 조선말",
      "ก ารทดสอบภาษาไทย"
    ).toDF("t")
    val spaced = regexp_replace(col("t"), cjk, " $1 ")
    df.select(
      lower(col("t")).as("lo"),
      regexp_extract_all(lower(spaced), lit("[\\p{L}\\p{M}\\p{N}]+"), lit(0)).as("toks")
    ).collect().foreach { r =>
      def esc(s: String) = s.map(c => if (c < 128) c.toString else f"\\u${c.toInt}%04x").mkString
      println("LO " + esc(r.getString(0)))
      println("TK " + esc(r.getSeq[String](1).mkString("|")))
    }
    spark.stop()
  }
}
