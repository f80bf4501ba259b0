package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis vocabulary for large-scale training-data pipelines:
  * normalization, tokenization, shingling, portable 32-bit hashing,
  * MinHash derivation, SimHash fingerprints, language/quality heuristics.
  * Every function is a pure codegen'd Column expression — no UDFs — and
  * every hash is md5-derived so an external SQL engine can reproduce the
  * values bit-for-bit (the DuckDB oracles do exactly that).
  */
object TextFunctions {

  /** Canonical text normalization: collapse whitespace, trim, lowercase.
    * SQL twin: lower(trim(regexp_replace(t, '\s+', ' ', 'g'))).
    */
  def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Tokens of normalized text (single-space split — apply after normText). */
  def tokens(norm: Column): Column = split(norm, " ")

  /** Portable 32-bit hash: first 8 hex chars of md5, as a long in [0,2^32).
    * SQL twin: ('0x' || substr(md5(s), 1, 8))::BIGINT.
    */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** i-th derived hash of the (a,b) pair: (a + i·b) mod 2^32. */
  def derivedHash(a: Column, b: Column, i: Int): Column =
    (a + lit(i.toLong) * b) % lit(4294967296L)

  /** Character k-shingles of a string column, as an array column.
    * SQL twin: [substr(t, i, k) for i in generate_series(1, greatest(len(t)-k+1, 1))].
    */
  def shingles(c: Column, k: Int): Column =
    transform(
      sequence(lit(1), greatest(length(c) - lit(k - 1), lit(1))),
      i => c.substr(i, lit(k)))

  /** 16-bit token hash: first 4 hex chars of md5.
    * SQL twin: ('0x' || substr(md5(tok), 1, 4))::BIGINT.
    */
  def hash16(c: Column): Column =
    conv(substring(md5(c), 1, 4), 16, 10).cast("long")
}
