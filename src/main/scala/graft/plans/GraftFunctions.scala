package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftshims.GraftShims

/** Registration surface for graft's native Catalyst expressions:
  * `GraftFunctions.register(spark)` injects them into a built session,
  * and the Column methods below are the typed API.
  */
object GraftFunctions {

  /** Idempotently register `scaled_dot` and the native top-k-per-group
    * strategy on a live session (SQL callers: `SELECT scaled_dot(a, b)`).
    */
  def register(spark: SparkSession): Unit = {
    GraftShims.registerScaledDot(spark)
    if (!spark.experimental.extraStrategies.contains(org.apache.spark.sql.graftshims.TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ org.apache.spark.sql.graftshims.TopKStrategy
  }

  /** Exact top-k rows per group via the native two-phase operator
    * (bounded per-group heaps on both sides of the shuffle — see
    * org.apache.spark.sql.graftshims.TopKPerGroup).
    */
  def topKPerGroup(df: org.apache.spark.sql.DataFrame, groupCols: Seq[String],
      orderCol: String, k: Int, descending: Boolean = true): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graftshims.TopKApi.topKPerGroup(df, groupCols, orderCol, k, descending)

  /** Native scaled dot product as a Column. */
  def scaledDot(a: Column, b: Column): Column = GraftShims.scaledDotColumn(a, b)

  /** Native dot product of two already-scaled long arrays (the k-means
    * hot loop — the corpus is floor-scaled ONCE, so no per-element scale).
    */
  def longDot(a: Column, b: Column): Column = GraftShims.longDotColumn(a, b)

  /** Native k-smallest selection (ascending) over a long-array Column —
    * pack (score, index) into one monotone long for in-row top-k by
    * (score, tie-break) without struct comparators.
    */
  def minKLong(a: Column, k: Column): Column = GraftShims.minKLongColumn(a, k)

  /** Native popcount-of-AND over two bit-packed long-array sets. */
  def bitmapAndCount(a: Column, b: Column): Column = GraftShims.bitmapAndCountColumn(a, b)

  /** Native sorted-merge |A ∩ B| over two SORTED-DISTINCT string arrays —
    * exactly `size(array_intersect(a, b))` on such inputs, minus the
    * per-pair hash-set build (the Jaccard verify hot loop).
    */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftShims.sortedIntersectCountColumn(a, b)

  /** Native dense-bitmap builder from an int-id array (nWords 64-bit words). */
  def bitmapBuild(ids: Column, nWords: Column): Column = GraftShims.bitmapBuildColumn(ids, nWords)

  /** Native k-way MinHash signature straight from normalized TEXT —
    * fused shingle→md5→min loop, no shingle array, text evaluated once
    * per row (a `transform`-lambda shingle array would re-evaluate
    * whatever expression produces the text per shingle position on
    * evaluation paths without subexpression elimination — quadratic in
    * doc length).
    */
  def minhashText(text: Column, shingleLen: Int, numHashes: Int): Column =
    GraftShims.minhashTextColumn(text, shingleLen, numHashes)

  /** Native 16-bit SimHash fingerprint of a token-array Column. */
  def simhash16(tokens: Column): Column = GraftShims.simhashColumn(tokens)

  /** Native sorted-distinct character-shingle set from normalized text —
    * exactly `array_sort(array_distinct(shingles(nt, len)))` in one
    * fused pass (the Jaccard verify's per-document set build).
    */
  def sortedShingleSet(text: Column, shingleLen: Int): Column =
    GraftShims.sortedShingleSetColumn(text, shingleLen)

  /** Native PQ encoder (fused loop nest over a flattened (m,k,d)-major
    * codebook); the declarative HOF twin is the tests'
    * DeclarativeTwins.pqCodes.
    */
  def pqEncode(emb: Column, codebook: Array[Long], m: Int, k: Int, d: Int): Column =
    GraftShims.pqEncodeColumn(emb, codebook, m, k, d)

  /** Native Aho-Corasick multi-pattern counts: ONE pass per row over the
    * text computes, for every dictionary term simultaneously, both the
    * overlapping (end-position) and the greedy leftmost non-overlapping
    * (replace-semantics) occurrence counts, as a SPARSE
    * array<struct(idx int, olap int, disj int)> — one entry per matched
    * term, ascending by index into `terms`. O(text + matches)
    * independent of |dict| — vs |dict| LIKE passes.
    */
  def acCounts(text: Column, terms: Seq[String]): Column =
    GraftShims.acCountsColumn(text, terms)

  /** Native Aho-Corasick scrub: one pass, leftmost-longest
    * non-overlapping span selection (FlashText's rule), cleaned text as
    * the byte-splice, as struct(cleaned string, spans array<struct(start,
    * len, idx)>) with 0-based byte offsets.
    */
  def acScrub(text: Column, terms: Seq[String]): Column =
    GraftShims.acScrubColumn(text, terms)
}
