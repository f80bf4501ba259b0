package graft.plans

import graft.{DeclarativeTwins, SparkSpec}
import graft.core.Tables
import graft.operators.Dedup

class SimHashExpressionSpec extends SparkSpec {

  test("native simhash16 equals the declarative explode/groupBy twin") {
    val docs = Tables(spark, sfDir).documents
    val native = Dedup.simhash16(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = DeclarativeTwins.simhash16(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native.keySet == agg.keySet)
    val mismatches = native.keys.filter(k => native(k) != agg(k))
    assert(mismatches.isEmpty, s"fingerprint mismatch for docs: ${mismatches.take(5)}")
  }
}
