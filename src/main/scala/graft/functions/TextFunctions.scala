package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis vocabulary for large-scale training-data pipelines:
  * normalization, tokenization and shingling. Every function is a pure
  * codegen'd Column expression — no UDFs — with a SQL twin an external
  * engine reproduces bit-for-bit (the DuckDB oracles do exactly that).
  */
object TextFunctions {

  /** Canonical text normalization: collapse whitespace, trim, lowercase.
    * SQL twin: lower(trim(regexp_replace(t, '\s+', ' ', 'g'))).
    */
  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Tokens of normalized text (single-space split — apply after normText). */
  def tokens(norm: Column): Column = split(norm, " ")

  /** Character k-shingles of a string column, as an array column.
    * SQL twin: [substr(t, i, k) for i in generate_series(1, greatest(len(t)-k+1, 1))].
    */
  def shingles(c: Column, k: Int): Column =
    transform(
      sequence(lit(1), greatest(length(c) - lit(k - 1), lit(1))),
      i => c.substr(i, lit(k)))
}
