package org.apache.spark.sql.graftshims

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, FloatType, LongType}

/** Native product-quantization encoder: one float vector → `m` sub-codes,
  * each the argmin scaled-integer L2² against `k` codewords of `d` dims
  * (ties to the smaller code). The flattened codebook rides along as a
  * reference object in generated code — encoding stays a pure projection
  * inside whole-stage codegen with tight primitive loops.
  *
  * Versus the higher-order-function twin (transform/aggregate lambdas,
  * see the tests' DeclarativeTwins.pqCodes): the interpreted lambda tree
  * allocates a struct per candidate codeword per subspace — measured
  * 4.1k vectors/s at 1M vectors; this loop nest is pure long arithmetic
  * (the pq_adc scenario of graft.tools.Scale records the difference).
  *
  * Semantics twin of the declarative form: same ×10^6 floor scaling
  * (float → double → floor, matching Spark's cast), same argmin/tie rule.
  */
case class PQEncode(child: Expression, codebook: Array[Long], m: Int, k: Int, d: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType)
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(input: Any): Any =
    PQEncodeImpl.compute(input.asInstanceOf[ArrayData], codebook, m, k, d)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "long[]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = org.apache.spark.sql.graftshims.PQEncodeImpl.compute($x, $cbRef, $m, $k, $d);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PQEncodeImpl {
  /** Java-callable from generated code. cb is flattened (m, k, d)-major. */
  def compute(emb: ArrayData, cb: Array[Long], m: Int, k: Int, d: Int): ArrayData = {
    val codes = new Array[Long](m)
    val xs = new Array[Long](d)
    var mi = 0
    while (mi < m) {
      var i = 0
      while (i < d) { // scale the subvector once per subspace
        xs(i) = math.floor(emb.getFloat(mi * d + i).toDouble * 1000000.0).toLong
        i += 1
      }
      var bestC = -1L
      var bestD = Long.MaxValue
      var c = 0
      while (c < k) {
        val base = mi * k * d + c * d
        var dist = 0L
        i = 0
        while (i < d) {
          val diff = xs(i) - cb(base + i)
          dist += diff * diff
          i += 1
        }
        if (dist < bestD) { bestD = dist; bestC = c }
        c += 1
      }
      codes(mi) = bestC
      mi += 1
    }
    new GenericArrayData(codes)
  }
}
