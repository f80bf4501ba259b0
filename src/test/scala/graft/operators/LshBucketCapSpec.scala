package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The LSH hot-bucket safety valve: with maxBucket set, an oversized
  * (degenerate) bucket emits linear hub-star edges instead of B²/2
  * pairs, while downstream connected-components clustering still
  * recovers the identical grouping.
  */
class LshBucketCapSpec extends SparkSpec {

  // 40 identical docs (one degenerate bucket per band) + 3 isolated docs
  private def sigs = {
    val s = spark
    import s.implicits._
    val dup  = (1L to 40L).map(id => (id, 7, 7, 7, 7, 7, 7, 7, 7))
    val solo = Seq((100L, 1, 2, 3, 4, 5, 6, 7, 8), (200L, 9, 10, 11, 12, 13, 14, 15, 16),
      (300L, 17, 18, 19, 20, 21, 22, 23, 24))
    (dup ++ solo).toDF("doc_id", "m0", "m1", "m2", "m3", "m4", "m5", "m6", "m7")
  }

  test("cap turns a degenerate bucket's pairs linear and keeps clusters identical") {
    val uncapped = Dedup.minhashCandidates(sigs).cache()
    val capped   = Dedup.minhashCandidates(sigs, maxBucket = Some(10)).cache()
    // 40 identical docs: all-pairs = C(40,2) = 780; star = 39
    assert(uncapped.count() == 780L)
    assert(capped.count() == 39L)
    // star edges are a subset of the true pair set
    assert(capped.exceptAll(uncapped).count() == 0L)
    // connectivity preserved: both candidate sets cluster identically
    def comp(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(capped) == comp(uncapped))
    assert((1L to 40L).forall(comp(capped)(_) == 1L))
    uncapped.unpersist(); capped.unpersist()
  }

  test("buckets at or under the cap keep exact all-pairs semantics") {
    val none = Dedup.minhashCandidates(sigs, maxBucket = Some(40))
    val all  = Dedup.minhashCandidates(sigs)
    assert(none.exceptAll(all).count() == 0L && all.exceptAll(none).count() == 0L)
  }

  test("lshBands returns a checkpointed relation, leaves no cache behind and keeps a caller-held cache") {
    def cached(df: org.apache.spark.sql.DataFrame) = spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).nonEmpty
    // the returned relation is an ExistingRDD: no minhash expression is
    // left for band-join planning to inline into a pushed-down filter
    val uncached = sigs
    val bands = Dedup.lshBands(uncached)
    assert(bands.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      s"lshBands must return a checkpointed relation:\n${bands.queryExecution.analyzed}")
    assert(bands.count() == 4L * 43)
    // an uncached signature input is left uncached
    assert(!cached(uncached),
      "lshBands must leave no cache behind on an uncached input")
    // a caller-cached input keeps its cache (and its lifetime)
    val held = sigs.cache()
    Dedup.lshBands(held)
    assert(cached(held),
      "lshBands must leave a caller-held cache in place")
    held.unpersist()
  }

  test("pre-banded candidates == signature-level candidates (capped and not)") {
    // the r10 shared-band-relation path (q604/q605/q609 build lshBands once
    // and feed both the full pairing and the shard probe)
    val bands = Dedup.lshBands(sigs)
    for (cap <- Seq(None, Some(10))) {
      val banded = Dedup.minhashCandidatesBanded(bands, cap)
      val direct = Dedup.minhashCandidates(sigs, maxBucket = cap)
      assert(banded.exceptAll(direct).count() == 0L &&
        direct.exceptAll(banded).count() == 0L)
    }
  }

  test("incremental candidates == full candidates restricted to shard-touching pairs") {
    val s = spark
    import s.implicits._
    // index: 3 pairwise-similar doc groups + isolated docs; shard: a new
    // near-dup of group A (id 1000) and a brand-new isolated doc (2000)
    val index = Seq(
      (1L, 7, 7, 3, 4, 5, 6, 7, 8), (2L, 7, 7, 9, 9, 5, 6, 1, 2),
      (3L, 8, 8, 3, 4, 1, 1, 7, 8), (100L, 20, 21, 22, 23, 24, 25, 26, 27))
      .toDF("doc_id", "m0", "m1", "m2", "m3", "m4", "m5", "m6", "m7")
    val shard = Seq(
      (1000L, 7, 7, 30, 31, 32, 33, 34, 35), // hits group A's band-0 bucket
      (1001L, 7, 7, 40, 41, 42, 43, 44, 45), // hits A + 1000 (shard-internal)
      (2000L, 90, 91, 92, 93, 94, 95, 96, 97))
      .toDF("doc_id", "m0", "m1", "m2", "m3", "m4", "m5", "m6", "m7")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = pairs(Dedup.incrementalCandidates(Dedup.lshBands(index), Dedup.lshBands(shard)))
    val shardIds = Set(1000L, 1001L, 2000L)
    val full = pairs(Dedup.minhashCandidates(index.unionAll(shard)))
      .filter { case (a, b) => shardIds(a) || shardIds(b) }
    assert(inc == full, s"inc=$inc full=$full")
    // the shard-internal pair and the probe pairs are both present
    assert(inc.contains((1000L, 1001L)) && inc.contains((1L, 1000L)))
    // and nothing pairs the index against itself
    assert(inc.forall { case (a, b) => shardIds(a) || shardIds(b) })
  }

  test("capped incremental == capped full candidates restricted to shard-touching pairs") {
    val s = spark
    import s.implicits._
    // a degenerate bucket SPANNING both sides: 25 index docs + 10 shard
    // docs share every band value, so the union bucket (35) blows any
    // cap either side would miss alone; plus a small dense group and an
    // isolated shard doc
    val index = ((1L to 25L).map(id => (id, 7, 7, 7, 7, 7, 7, 7, 7)) ++
      Seq((50L, 1, 2, 3, 4, 5, 6, 70, 80), (51L, 1, 2, 9, 9, 5, 6, 1, 2)))
      .toDF("doc_id", "m0", "m1", "m2", "m3", "m4", "m5", "m6", "m7")
    val shard = ((1000L to 1009L).map(id => (id, 7, 7, 7, 7, 7, 7, 7, 7)) ++
      Seq((2000L, 1, 2, 30, 31, 32, 33, 34, 35), (3000L, 90, 91, 92, 93, 94, 95, 96, 97)))
      .toDF("doc_id", "m0", "m1", "m2", "m3", "m4", "m5", "m6", "m7")
    val shardIds = (1000L to 1009L).toSet ++ Set(2000L, 3000L)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cap = 12
    val inc = pairs(Dedup.incrementalCandidates(Dedup.lshBands(index), Dedup.lshBands(shard),
      maxBucket = Some(cap)))
    val full = pairs(Dedup.minhashCandidates(index.unionAll(shard), maxBucket = Some(cap)))
      .filter { case (a, b) => shardIds(a) || shardIds(b) }
    assert(inc == full, s"inc-only=${(inc -- full).take(5)} full-only=${(full -- inc).take(5)}")
    // the 35-member union bucket collapsed to hub(=1)-star edges touching
    // the shard: exactly the 10 shard members — not 10·25 probe pairs
    assert((1000L to 1009L).forall(m => inc.contains((1L, m))))
    assert(!inc.exists { case (a, b) => a != 1L && a <= 25L && b >= 1000L && b <= 1009L })
    // the dense (≤ cap) bucket keeps its exact probe pair
    assert(inc.contains((50L, 2000L)) && inc.contains((51L, 2000L)))
    // cap ignored ⇒ strictly more pairs (the valve engaged)
    assert(pairs(Dedup.incrementalCandidates(Dedup.lshBands(index), Dedup.lshBands(shard)))
      .size > inc.size)
  }

  test("pre-banded-both-sides probe and pre-banded append == the signature-level paths") {
    val s = spark
    import s.implicits._
    // the r11 shared shard-band path (q609 materializes the shard bands
    // once and feeds both the probe and the index append); the probe
    // has a single path, so only the append's two forms are compared
    val index = Seq(
      (1L, 7, 7, 3, 4, 5, 6, 7, 8), (2L, 7, 7, 9, 9, 5, 6, 1, 2),
      (100L, 20, 21, 22, 23, 24, 25, 26, 27))
      .toDF("doc_id", "m0", "m1", "m2", "m3", "m4", "m5", "m6", "m7")
    val shard = Seq(
      (1000L, 7, 7, 30, 31, 32, 33, 34, 35),
      (2000L, 90, 91, 92, 93, 94, 95, 96, 97))
      .toDF("doc_id", "m0", "m1", "m2", "m3", "m4", "m5", "m6", "m7")
    val idxBands = Dedup.lshBands(index)
    val shdBands = Dedup.lshBands(shard)
    val pre = Dedup.appendBands(idxBands, shdBands)
    val sig = Dedup.appendBands(idxBands, Dedup.lshBands(shard))
    assert(pre.exceptAll(sig).count() == 0L && sig.exceptAll(pre).count() == 0L)
  }

  test("simhash block cap: oversized block pairs only through its hub, exact under the cap") {
    val s = spark
    import s.implicits._
    // 30 identical fingerprints crowd one block; a 3-member block holds
    // genuine near fingerprints (hamming 1-2)
    val sim = ((1L to 30L).map(id => (id, 0x1200L)) ++
      Seq((100L, 0x3400L), (101L, 0x3401L), (102L, 0x3480L)))
      .toDF("doc_id", "simhash")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.simhashPairs(sim, 3))
    val capped = pairs(Dedup.simhashPairs(sim, 3, maxBlock = Some(10)))
    // crowded block: C(30,2) = 435 exact pairs vs 29 hub-anchored
    assert(exact.count { case (a, b) => a <= 30 && b <= 30 } == 435)
    assert(capped.count { case (a, b) => a <= 30 && b <= 30 } == 29)
    assert((1L to 30L).tail.forall(m => capped((1L, m))), "hub = min doc_id anchors every member")
    // capped output is a Hamming-verified SUBSET of exact
    assert(capped.subsetOf(exact))
    // the small block keeps exact all-pairs under the cap
    assert(Set((100L, 101L), (100L, 102L), (101L, 102L)).subsetOf(capped))
    // a generous cap reproduces exact verbatim
    assert(pairs(Dedup.simhashPairs(sim, 3, maxBlock = Some(30))) == exact)
  }
}
