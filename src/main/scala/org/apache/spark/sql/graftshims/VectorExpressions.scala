package org.apache.spark.sql.graftshims

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, FloatType, IntegerType, LongType, StringType}

/** Native Catalyst expression for the embedding hot loop: the ×10^6
  * floor-scaled integer dot product of two float vectors (see
  * graft.operators.Similarity for the determinism rationale).
  *
  * The declarative form — `aggregate(zip_with(a, b, …))` — materializes an
  * intermediate array and evaluates two lambda closures per element; this
  * expression runs one fused primitive loop over the two `ArrayData`
  * buffers (no boxing, no allocation) in both interpreted and
  * whole-stage-codegen paths. Lives under org.apache.spark.sql.* only
  * because `AbstractDataType`/`ExpressionUtils` are private[sql]; the
  * public API is graft.plans.GraftFunctions.
  */
case class ScaledDotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def prettyName: String = "scaled_dot"

  // Result is NULL on length mismatch (see nullSafeEval), independent of
  // input nullability.
  override def nullable: Boolean = true

  /** Mismatched lengths yield NULL — matching the declarative twin, where
    * zip_with null-pads the shorter array and `acc + null` nulls the
    * aggregate.
    */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      // null element ⇒ NULL result, matching the declarative twin where
      // zip_with's lambda nulls and `acc + null` nulls the aggregate
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += math.floor(x.getFloat(i).toDouble * 1000000.0).toLong *
        math.floor(y.getFloat(i).toDouble * 1000000.0).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((long) java.lang.Math.floor(((double) $x.getFloat($i)) * 1000000.0))
         |          * ((long) java.lang.Math.floor(((double) $y.getFloat($i)) * 1000000.0));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native dot product of two ALREADY-SCALED long arrays — the k-means hot
  * loop ([[graft.operators.Similarity.kmeansAssignments]] pre-floors the
  * corpus once into ×10^6 BIGINT arrays, so its per-centroid dot needs no
  * per-element scaling). The declarative twin —
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, +)` — pays two interpreted
  * lambda closures and an intermediate array per dot; at 1M vectors × C
  * centroids × 64 dims per Lloyd round that overhead IS the runtime. One
  * fused primitive loop, like [[ScaledDotProduct]]; NULL on length
  * mismatch for the same rewrite-safety reason.
  */
case class LongDotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "long_dot"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      // null element ⇒ NULL result (see ScaledDotProduct): getLong on a
      // null slot would NPE (GenericArrayData) or silently read 0 (unsafe)
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $x.getLong($i) * $y.getLong($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native k-smallest selection over a long array, ascending — the in-row
  * multi-probe primitive: callers pack (score, index) into one monotone
  * long (score · 2^21 + index, index < 2^21) so "k smallest packed" IS
  * "top-k by (score, index)" with no struct comparator. The declarative
  * twin — `slice(array_sort(arr), 1, k)` — pays O(C log C) boxed
  * comparisons per row, which at 10^6 rows × 10^4 centroids dominates the
  * whole assignment; this is one primitive insertion pass bounded by
  * O(C·k) with an early reject against the current k-th best (O(C) on
  * sorted-ish data). NULL in, NULL out; k ≥ array size returns the whole
  * array sorted.
  */
case class MinKLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "min_k_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val k0 = b.asInstanceOf[Int]
    val n = x.numElements()
    val k = math.min(math.max(k0, 0), n)
    val buf = new Array[Long](k)
    var m = 0
    var i = 0
    while (i < n) {
      // null scores are skipped — the window twin this replaced ordered
      // nulls last, so they can never be among the k smallest
      if (!x.isNullAt(i)) {
        val v = x.getLong(i)
        if (m < k) {
          var j = m - 1
          while (j >= 0 && buf(j) > v) { buf(j + 1) = buf(j); j -= 1 }
          buf(j + 1) = v
          m += 1
        } else if (k > 0 && v < buf(k - 1)) {
          var j = k - 2
          while (j >= 0 && buf(j) > v) { buf(j + 1) = buf(j); j -= 1 }
          buf(j + 1) = v
        }
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      if (m < k) java.util.Arrays.copyOf(buf, m) else buf)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xV, kV) => {
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val buf = ctx.freshName("buf")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val v = ctx.freshName("v")
      s"""
         |int $n = $xV.numElements();
         |int $k = java.lang.Math.min(java.lang.Math.max($kV, 0), $n);
         |long[] $buf = new long[$k];
         |int $m = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($xV.isNullAt($i)) continue;
         |  long $v = $xV.getLong($i);
         |  if ($m < $k) {
         |    int $j = $m - 1;
         |    for (; $j >= 0 && $buf[$j] > $v; $j--) $buf[$j + 1] = $buf[$j];
         |    $buf[$j + 1] = $v;
         |    $m++;
         |  } else if ($k > 0 && $v < $buf[$k - 1]) {
         |    int $j = $k - 2;
         |    for (; $j >= 0 && $buf[$j] > $v; $j--) $buf[$j + 1] = $buf[$j];
         |    $buf[$j + 1] = $v;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
         |  $m < $k ? java.util.Arrays.copyOf($buf, $m) : $buf);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native popcount-of-AND over two long-array bitmaps: |A ∩ B| when sets
  * are densely bit-packed (64 members per word). The declarative twin —
  * `aggregate(zip_with(b1, b2, (x,y) -> bit_count(x & y)), …)` — pays two
  * interpreted lambdas and an intermediate array per row, which at
  * millions of verify pairs × hundreds of words dominates the whole job
  * (q204's exact-Jaccard block product); this is one fused primitive loop
  * in both eval paths, like [[ScaledDotProduct]].
  */
case class BitmapAndCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "bitmap_and_count"
  override def nullable: Boolean = true

  /** NULL on length mismatch, mirroring [[ScaledDotProduct.nullSafeEval]]. */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      // null word ⇒ NULL result (see ScaledDotProduct)
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += java.lang.Long.bitCount(x.getLong(i) & y.getLong(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += java.lang.Long.bitCount($x.getLong($i) & $y.getLong($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native dense-bitmap builder: packs an array of non-negative member ids
  * into `nWords` 64-bit words (bit `id mod 64` of word `id div 64`). The
  * declarative twin — transform over words × filter over ids — is
  * O(words · ids) in interpreted lambdas; this is one O(ids) primitive
  * loop. Ids ≥ nWords·64 are ignored (caller sizes nWords from max id).
  */
case class BitmapBuild(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(IntegerType), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "bitmap_build"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val ids = a.asInstanceOf[ArrayData]
    val nw = b.asInstanceOf[Int]
    val words = new Array[Long](nw)
    var i = 0
    val n = ids.numElements()
    while (i < n) {
      // null ids are absent members — skipped
      if (!ids.isNullAt(i)) {
        val id = ids.getInt(i)
        if (id >= 0 && id < nw * 64) words(id >>> 6) |= (1L << (id & 63))
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(words)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (idsV, nwV) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val id = ctx.freshName("id")
      val words = ctx.freshName("words")
      s"""
         |long[] $words = new long[$nwV];
         |int $n = $idsV.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($idsV.isNullAt($i)) continue;
         |  int $id = $idsV.getInt($i);
         |  if ($id >= 0 && $id < $nwV * 64) $words[$id >>> 6] |= (1L << ($id & 63));
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($words);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native sorted-merge intersection count over two string arrays that are
  * each SORTED ASCENDING with DISTINCT elements (array_sort order: nulls
  * last) — exactly `size(array_intersect(a, b))` on such inputs, without
  * the per-call hash-set build array_intersect pays. The dedup family's
  * Jaccard verification evaluates one intersection per candidate PAIR
  * (|pairs| ≫ |docs|), so the per-pair constant dominates the verify
  * stage; a two-pointer merge is one linear pass of binary UTF8
  * comparisons with zero allocation, while ArrayIntersect builds and
  * probes an OpenHashSet of UTF8Strings per row. The per-document sort
  * moves to the (once-per-doc) set projection, where it amortizes over
  * every pair the doc appears in. NULL input array ⇒ NULL (matching
  * array_intersect); a null ELEMENT matches only a null element
  * (array_intersect's SQL-set semantics), and sorted-nulls-last keeps the
  * merge correct. SortedIntersectSpec pins equality with the builtin.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var acc = 0L
    while (i < nx && j < ny) {
      // nulls sort last (array_sort), and null == null is one shared
      // element under array_intersect's set semantics
      val xn = x.isNullAt(i)
      val yn = y.isNullAt(j)
      if (xn && yn) { acc += 1; i += 1; j += 1 }
      else if (xn) j += 1 // x exhausted its non-nulls; y's value is smaller
      else if (yn) i += 1
      else {
        val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (c == 0) { acc += 1; i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val xn = ctx.freshName("xn")
      val yn = ctx.freshName("yn")
      val c = ctx.freshName("c")
      s"""
         |int $nx = $x.numElements();
         |int $ny = $y.numElements();
         |int $i = 0; int $j = 0;
         |long $acc = 0L;
         |while ($i < $nx && $j < $ny) {
         |  boolean $xn = $x.isNullAt($i);
         |  boolean $yn = $y.isNullAt($j);
         |  if ($xn && $yn) { $acc++; $i++; $j++; }
         |  else if ($xn) { $j++; }
         |  else if ($yn) { $i++; }
         |  else {
         |    int $c = $x.getUTF8String($i).compareTo($y.getUTF8String($j));
         |    if ($c == 0) { $acc++; $i++; $j++; }
         |    else if ($c < 0) { $i++; }
         |    else { $j++; }
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** private[sql] access points used by graft.plans.GraftFunctions. */
object GraftShims {

  def registerScaledDot(spark: SparkSession): Unit = {
    val id = FunctionIdentifier("scaled_dot")
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    if (!registry.functionExists(id))
      registry.registerFunction(id,
        new ExpressionInfo(classOf[ScaledDotProduct].getName, "scaled_dot"),
        (args: Seq[Expression]) => ScaledDotProduct(args(0), args(1)))
  }

  def scaledDotColumn(a: Column, b: Column): Column =
    ExpressionUtils.column(ScaledDotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def longDotColumn(a: Column, b: Column): Column =
    ExpressionUtils.column(LongDotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def minKLongColumn(a: Column, k: Column): Column =
    ExpressionUtils.column(MinKLong(ExpressionUtils.expression(a), ExpressionUtils.expression(k)))

  def bitmapAndCountColumn(a: Column, b: Column): Column =
    ExpressionUtils.column(BitmapAndCount(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def bitmapBuildColumn(ids: Column, nWords: Column): Column =
    ExpressionUtils.column(BitmapBuild(ExpressionUtils.expression(ids), ExpressionUtils.expression(nWords)))

  def sortedIntersectCountColumn(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectCount(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def minhashTextColumn(text: Column, shingleLen: Int, numHashes: Int): Column =
    ExpressionUtils.column(MinHashFromText(ExpressionUtils.expression(text), shingleLen, numHashes))

  def sortedShingleSetColumn(text: Column, shingleLen: Int): Column =
    ExpressionUtils.column(SortedShingleSet(ExpressionUtils.expression(text), shingleLen))

  def simhashColumn(tokens: Column): Column =
    ExpressionUtils.column(SimHash16(ExpressionUtils.expression(tokens)))

  def pqEncodeColumn(emb: Column, codebook: Array[Long], m: Int, k: Int, d: Int): Column =
    ExpressionUtils.column(PQEncode(ExpressionUtils.expression(emb), codebook, m, k, d))

  def acCountsColumn(text: Column, terms: Seq[String]): Column =
    ExpressionUtils.column(AhoCorasickCounts(ExpressionUtils.expression(text), terms))

  def acScrubColumn(text: Column, terms: Seq[String]): Column =
    ExpressionUtils.column(AhoCorasickScrub(ExpressionUtils.expression(text), terms))
}
