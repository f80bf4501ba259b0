package org.apache.spark.sql.graftshims

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType, StringType}

/** Native MinHash signature straight from the (already-normalized) TEXT:
  * the k-shingle loop is fused into the expression — one codepoint
  * window per position, md5 per window, k Broder minima — so the text
  * is evaluated ONCE per row and no shingle array ever materializes.
  *
  * This exists because the declarative child shape
  * `transform(sequence(...), i -> substr(normText(text), i, k))` embeds
  * the normalization INSIDE the lambda: evaluation paths that don't
  * subexpression-eliminate (pushed-down filters, RDD materialization)
  * re-run the regexp normalization PER SHINGLE POSITION — quadratic in
  * document length (measured ~10 s for ONE 30 KB document). Semantics
  * are bit-identical to the declarative shingle-array form (the tests'
  * DeclarativeTwins.minhashSignatures): same windows (SQL substr =
  * codepoint-based, as UTF8String.substringSQL, including the short-text
  * whole-string window), same md5 bytes (first 8 hex chars = a, next 8
  * forced odd = b), same (a + i·b) mod 2^32 derivation, and duplicate
  * shingles cannot change a minimum.
  */
case class MinHashFromText(child: Expression, shingleLen: Int, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType)
  override def prettyName: String = "minhash_text"

  override def nullSafeEval(input: Any): Any =
    MinHashImpl.computeText(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      shingleLen, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = org.apache.spark.sql.graftshims.MinHashImpl.computeText($x, $shingleLen, $numHashes);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native sorted-distinct character-shingle set straight from the
  * (already-normalized) text — exactly
  * `array_sort(array_distinct(shingles(nt, len)))` fused into one pass:
  * char byte-offsets computed once (the declarative chain's substr walks
  * the string per window), windows sliced by byte range, sorted with the
  * binary UTF8 ordering array_sort uses, adjacent-deduped. The Jaccard
  * verify builds one such set per candidate document, once, behind the
  * checkpoint both of its pair joins read (see jaccardVerify); this
  * removes the transform-lambda invocation, the intermediate shingle
  * array, and array_distinct's per-element hash-set pass.
  * SortedShingleSetSpec pins equality with the declarative chain on the
  * real corpus fixture.
  */
case class SortedShingleSet(child: Expression, shingleLen: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "sorted_shingle_set"

  override def nullSafeEval(input: Any): Any =
    MinHashImpl.sortedShingleSet(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], shingleLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = org.apache.spark.sql.graftshims.MinHashImpl.sortedShingleSet($x, $shingleLen);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashImpl {
  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private val Mod = 4294967296L // 2^32

  /** Fused text → shingle-window → md5 → k-minima loop. Windows are
    * codepoint-based like SQL substr: `substringSQL(i, i+len-1)` for
    * 1-based i in [1, max(numChars-len+1, 1)] — including the short-text
    * case where the single window is the whole string, matching
    * `sequence(1, greatest(length(t)-k+1, 1))`.
    */
  def computeText(text: org.apache.spark.unsafe.types.UTF8String,
      len: Int, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val md = digest.get()
    val n = text.numChars()
    // Char byte-offsets computed in ONE pass (r11): the previous
    // per-window substringSQL(i, len) walks the string from byte 0 to
    // find char i on EVERY call — O(position) each, quadratic in
    // document length overall (a single 40 KB planted giant doc cost
    // ~2 s of pure char-walking inside q618's candidate job). Windows
    // are byte slices over the offset table — identical bytes to
    // substringSQL's 1-based clamped windows, so the md5 stream and the
    // signature are bit-for-bit unchanged (spec + oracles pin it).
    val bytes = text.getBytes
    val offs = new Array[Int](n + 1)
    var c = 0
    var bo = 0
    while (c < n) {
      offs(c) = bo
      bo += org.apache.spark.unsafe.types.UTF8String
        .numBytesForFirstByte(bytes(bo))
      c += 1
    }
    offs(n) = bytes.length
    val last = math.max(n - len + 1, 1)
    var i = 0
    while (i < last) {
      val from = offs(i)
      val until = offs(math.min(i + len, n))
      md.reset()
      md.update(bytes, from, until - from)
      val d = md.digest()
      val a = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) | ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      val b = (((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) | ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)) | 1L
      var j = 0
      while (j < k) {
        val h = (a + j * b) % Mod
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Sorted-distinct codepoint-window shingle set; windows match
    * [[computeText]] (1-based i in [1, max(numChars-len+1, 1)], clamped
    * at the end — the short-text case yields the single whole-string
    * window). Byte offsets of every char boundary are computed in ONE
    * pass, so each window is an O(window bytes) slice instead of an
    * O(position) substr walk.
    */
  def sortedShingleSet(text: org.apache.spark.unsafe.types.UTF8String,
      len: Int): ArrayData = {
    val bytes = text.getBytes
    val n = text.numChars()
    // offs(i) = byte offset of char i (offs(n) = total bytes)
    val offs = new Array[Int](n + 1)
    var c = 0
    var b = 0
    while (c < n) {
      offs(c) = b
      b += org.apache.spark.unsafe.types.UTF8String
        .numBytesForFirstByte(bytes(b))
      c += 1
    }
    offs(n) = bytes.length
    val last = math.max(n - len + 1, 1)
    val out = new Array[org.apache.spark.unsafe.types.UTF8String](last)
    var i = 0
    while (i < last) {
      val from = offs(i)
      val until = offs(math.min(i + len, n))
      out(i) = org.apache.spark.unsafe.types.UTF8String
        .fromBytes(bytes, from, until - from)
      i += 1
    }
    java.util.Arrays.sort(out.asInstanceOf[Array[AnyRef]])
    // adjacent dedup in place
    var m = 0
    var j = 0
    while (j < last) {
      if (m == 0 || !out(j).equals(out(m - 1))) { out(m) = out(j); m += 1 }
      j += 1
    }
    new GenericArrayData(
      if (m == last) out.asInstanceOf[Array[Any]]
      else java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], m).asInstanceOf[Array[Any]])
  }
}
