package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{normText, shingles, tokens}

/** Declarative twins of graft's native expressions, written with
  * built-in higher-order functions and aggregates only: the semantic
  * specs the native expressions are checked against, and the shape an
  * external SQL engine reproduces. No production path runs them.
  */
object DeclarativeTwins {

  /** Element scaled to an exact integer: floor(x · 10^6). */
  private def sInt(x: Column): Column =
    floor(x.cast("double") * lit(1000000.0)).cast("long")

  /** i-th derived hash of the (a,b) pair: (a + i·b) mod 2^32. */
  private def derivedHash(a: Column, b: Column, i: Int): Column =
    (a + lit(i.toLong) * b) % lit(4294967296L)

  /** 16-bit token hash: first 4 hex chars of md5.
    * SQL twin: ('0x' || substr(md5(tok), 1, 4))::BIGINT.
    */
  private def hash16(c: Column): Column =
    conv(substring(md5(c), 1, 4), 16, 10).cast("long")

  /** `Similarity.scaledDot`: a zipped array and two lambdas per element. */
  def scaledDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => sInt(x) * sInt(y)), lit(0L), (acc, v) => acc + v)

  /** `Similarity.pqCodes`: nearest codeword per subvector by scaled-integer
    * L2², ties to the smaller code.
    */
  def pqCodes(emb: Column, cb: Array[Array[Array[Long]]]): Column = {
    val m = cb.length; val k = cb(0).length; val d = cb(0)(0).length
    val cbLit = array(cb.map(mArr => array(mArr.map(cArr =>
      array(cArr.map(lit(_)): _*)): _*)): _*)
    transform(sequence(lit(0), lit(m - 1)), mi =>
      aggregate(
        sequence(lit(0), lit(k - 1)),
        struct(lit(-1L).as("c"), lit(Long.MaxValue).as("dist")),
        (acc, c) => {
          val d2 = aggregate(sequence(lit(0), lit(d - 1)), lit(0L), (a, i) => {
            val x = sInt(element_at(emb, mi * d + i + 1))
            val y = element_at(element_at(element_at(cbLit, mi + 1), c + 1), i + 1)
            a + (x - y) * (x - y)
          })
          when(d2 < acc.getField("dist"),
            struct(c.cast("long").as("c"), d2.as("dist"))).otherwise(acc)
        },
        acc => acc.getField("c")))
  }

  /** `Dedup.minhashSignatures`: explode shingles → md5/conv → groupBy
    * k-way min; returns (doc_id, m0..m{k-1}).
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 8, numHashes: Int = 8): DataFrame = {
    val sh = docs
      .select(col(idCol).as("doc_id"),
        explode(shingles(normText(col(textCol)), shingleLen)).as("sh"))
      .select(col("doc_id"), md5(col("sh")).as("md"))
      .select(col("doc_id"),
        conv(substring(col("md"), 1, 8), 16, 10).cast("long").as("a"),
        conv(substring(col("md"), 9, 8), 16, 10).cast("long").bitwiseOR(lit(1L)).as("b"))
    sh.groupBy("doc_id")
      .agg(
        min(derivedHash(col("a"), col("b"), 0)).as("m0"),
        (1 until numHashes).map(i => min(derivedHash(col("a"), col("b"), i)).as(s"m$i")): _*)
  }

  /** `Dedup.simhash16`: explode tokens → explode bit positions → sign
    * sums; returns (doc_id, simhash).
    */
  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(tokens(normText(col(textCol)))).as("tok"))
      .select(col("doc_id"), hash16(col("tok")).as("h"))
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(15))).as("b"))
      .groupBy("doc_id", "b")
      .agg(sum(when(expr("(h div CAST(pow(2.0, b) AS BIGINT)) % 2") === 1, 1L)
        .otherwise(-1L)).as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") > 0, expr("CAST(pow(2.0, b) AS BIGINT)"))
        .otherwise(0L)).as("simhash"))
}
