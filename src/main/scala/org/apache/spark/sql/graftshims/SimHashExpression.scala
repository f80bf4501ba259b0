package org.apache.spark.sql.graftshims

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType, StringType}

/** Native 16-bit SimHash: given one document's token array, md5 each
  * token, take the top 16 bits (first 4 hex chars), accumulate per-bit
  * ±1 sign sums, and emit the sign fingerprint — all in ONE in-row loop.
  *
  * Versus the declarative pipeline (explode tokens → explode 16 bit
  * positions → two groupBy levels) this removes a 16·|tokens|-row
  * intermediate and both shuffles: the fingerprint is a pure projection.
  * Bit-identical to the SQL form (same md5, same hex-slice, same
  * frequency-weighted ±1 sums — see the tests' DeclarativeTwins.simhash16,
  * the semantic spec).
  */
case class SimHash16(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash16"

  override def nullSafeEval(input: Any): Any =
    SimHashImpl.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = org.apache.spark.sql.graftshims.SimHashImpl.compute($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashImpl {
  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Java-callable from generated code (static forwarder). */
  def compute(tokens: ArrayData): Long = {
    val sums = new Array[Int](16)
    val md = digest.get()
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      val tok = tokens.getUTF8String(i)
      if (tok != null) {
        md.reset()
        val d = md.digest(tok.getBytes)
        // first 4 hex chars = first 2 bytes (big-endian unsigned)
        val h = ((d(0) & 0xFF) << 8) | (d(1) & 0xFF)
        var b = 0
        while (b < 16) {
          if (((h >> b) & 1) == 1) sums(b) += 1 else sums(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 16) {
      if (sums(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}
