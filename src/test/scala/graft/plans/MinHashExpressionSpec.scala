package graft.plans

import graft.{DeclarativeTwins, SparkSpec}
import graft.core.Tables
import graft.operators.Dedup

class MinHashExpressionSpec extends SparkSpec {

  test("native minhash signature equals the declarative explode/groupBy twin") {
    val docs = Tables(spark, sfDir).documents
    val native = Dedup.minhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap
    val agg = DeclarativeTwins.minhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap
    assert(native.keySet == agg.keySet)
    val mismatches = native.keys.filter(k => native(k) != agg(k))
    assert(mismatches.isEmpty, s"signature mismatch for docs: ${mismatches.take(5)}")
  }
}
