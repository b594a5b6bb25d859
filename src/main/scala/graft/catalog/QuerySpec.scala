package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: its name, its Spark body, and the DuckDB SQL its
  * result must hash-match. The family object a spec lives in is its
  * family; `SparkEntry` indexes all of them.
  *
  * The body takes (spark, sfDir) and reads parquet tables from sfDir.
  * Numeric convention for oracle hash-parity: aggregate in exact DECIMAL,
  * cast the final value to DOUBLE (both Spark and DuckDB produce the
  * identical IEEE-754 double from the same exact decimal); never sum raw
  * doubles (fold order would make the result nondeterministic). Ratios
  * are taken in double, with textually identical operand order on both
  * sides.
  *
  * The oracle is ANSI SQL runnable by DuckDB on the same parquet tables.
  * DuckDB regex is RE2 (no lookahead): X1's lookahead form is
  * re-expressed with a capture group, which is semantically identical
  * for this rewrite.
  *
  * TOKENIZER SPELLINGS (round 14): oracles over the driver corpus
  * spell the tokenizer as `regexp_extract_all(lower(text),
  * '[a-z0-9]+')` — the ASCII SPECIALIZATION of
  * `TextAnalysis.tokens`, which is provably identical on the
  * all-ASCII corpus tables (TextPipelineSpec "tokens ≡ tokensAscii
  * on pure-ASCII"), and simpler for the oracle to state. The full
  * Unicode spelling (duckUToks, generated from the same Scala
  * constants as the operator) appears in the q288+ family, whose
  * multilingual fixture actually exercises it.
  */
final case class QuerySpec(name: String, body: (SparkSession, String) => DataFrame,
    oracle: String)

object QuerySpec {
  /** The N of a `qN_…` name. */
  def ordinal(name: String): Int = name.drop(1).takeWhile(_.isDigit).toInt
}
