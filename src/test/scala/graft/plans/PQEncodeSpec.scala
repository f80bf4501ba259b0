package graft.plans

import org.apache.spark.sql.functions._

import graft.{DeclarativeTwins, SparkSpec}
import graft.operators.Similarity

/** Native PQ encoder vs the declarative higher-order-function twin:
  * bit-identical codes on the real embedding corpus, including argmin
  * tie-breaking toward the smaller code.
  */
class PQEncodeSpec extends SparkSpec {

  private def codebook(rows: Array[Array[Float]], m: Int, k: Int, d: Int) =
    Array.tabulate(m, k, d)((mi, c, i) =>
      math.floor(rows(c)(mi * d + i).toDouble * 1000000.0).toLong)

  test("native pq_encode equals the declarative twin on the corpus") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val train = e.where(col("vec_id") % 31 === 0 && col("vec_id") < 496)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val cb = codebook(train, 8, 16, 8)
    val both = e.select(
      Similarity.pqCodes(col("embedding"), cb).as("native"),
      DeclarativeTwins.pqCodes(col("embedding"), cb).as("decl"))
    assert(both.where(col("native") =!= col("decl")).isEmpty)
  }

  test("ties break toward the smaller code") {
    val s = spark
    import s.implicits._
    // duplicate codewords 0 and 1 ⇒ every vector ties; code must be 0
    val v = Seq(Tuple1(Array.fill(8)(0.5f))).toDF("embedding")
    val cw = Array.fill(8)(0.25f)
    val cb = Array.tabulate(1, 2, 8)((_, _, i) =>
      math.floor(cw(i).toDouble * 1000000.0).toLong)
    val codes = v.select(Similarity.pqCodes(col("embedding"), cb).as("c"))
      .head().getSeq[Long](0)
    assert(codes == Seq(0L))
  }
}
