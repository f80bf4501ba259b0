package graft.operators

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property pins for the degenerate-locality caps, beyond the planted
  * fixtures: random signatures / fingerprints / vectors with forced
  * collisions, random caps — the capped arms must agree with their
  * exact twins on every algebraic contract (restriction equivalence,
  * verified-subset, hub anchoring, exact-under-covering-cap).
  * (Raw ScalaCheck generators with fixed seeds — the scalatest bridge
  * artifact is not in the offline cache.)
  */
class CapPropertySpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(99L + i)))

  private def sigDf(rows: Seq[(Long, List[Int])]) = {
    val s = spark
    import s.implicits._
    rows.map { case (id, m) => (id, m(0), m(1), m(2), m(3), m(4), m(5), m(6), m(7)) }
      .toDF("doc_id", "m0", "m1", "m2", "m3", "m4", "m5", "m6", "m7")
  }

  private def prs(df: org.apache.spark.sql.DataFrame, c1: String, c2: String) =
    df.select(c1, c2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("property: capped incremental LSH == capped full restricted to shard-touching pairs") {
    // m-values in 0..3 force heavy band-bucket collisions
    val genSig = Gen.listOfN(8, Gen.chooseNum(0, 3))
    val genCase = for {
      nIdx <- Gen.chooseNum(1, 14)
      nShd <- Gen.chooseNum(1, 8)
      idx  <- Gen.listOfN(nIdx, genSig)
      shd  <- Gen.listOfN(nShd, genSig)
      cap  <- Gen.chooseNum(1, 10)
    } yield (idx, shd, cap)
    samples(genCase, 10).foreach { case (idx, shd, cap) =>
      val index = sigDf(idx.zipWithIndex.map { case (m, i) => (i.toLong + 1, m) })
      val shard = sigDf(shd.zipWithIndex.map { case (m, i) => (i.toLong + 1001, m) })
      val shardIds = (1001L until 1001L + shd.size).toSet
      val inc = prs(Dedup.incrementalCandidates(Dedup.lshBands(index), Dedup.lshBands(shard),
        maxBucket = Some(cap)), "d1", "d2")
      val full = prs(Dedup.minhashCandidates(index.unionAll(shard), maxBucket = Some(cap)), "d1", "d2")
        .filter { case (a, b) => shardIds(a) || shardIds(b) }
      assert(inc == full,
        s"cap=$cap inc-only=${(inc -- full).take(4)} full-only=${(full -- inc).take(4)}")
    }
  }

  test("property: capped simhash pairs — verified subset, hub-anchored, exact under covering cap") {
    val s = spark
    import s.implicits._
    val genCase = for {
      n      <- Gen.chooseNum(2, 25)
      hashes <- Gen.listOfN(n, Gen.chooseNum(0L, 1023L)) // 4 blocks → collisions
      cap    <- Gen.chooseNum(1, 8)
      dist   <- Gen.chooseNum(0, 4)
    } yield (hashes, cap, dist)
    samples(genCase, 10).foreach { case (hs, cap, dist) =>
      val sim = hs.zipWithIndex.map { case (h, i) => (i.toLong, h) }.toDF("doc_id", "simhash")
      val exact = prs(Dedup.simhashPairs(sim, dist), "d1", "d2")
      val capped = prs(Dedup.simhashPairs(sim, dist, maxBlock = Some(cap)), "d1", "d2")
      assert(capped.subsetOf(exact), s"cap=$cap dist=$dist over=${(capped -- exact).take(4)}")
      assert(prs(Dedup.simhashPairs(sim, dist, maxBlock = Some(hs.size)), "d1", "d2") == exact)
      // every capped pair whose block is oversized is anchored at its hub
      val hub = hs.zipWithIndex.groupBy(_._1 / 256)
        .collect { case (blk, mem) if mem.size > cap => blk -> mem.map(_._2.toLong).min }
      capped.foreach { case (a, b) =>
        val blk = hs(a.toInt) / 256
        hub.get(blk).foreach(h => assert(a == h,
          s"oversized block $blk pair ($a,$b) must anchor at hub $h"))
      }
    }
  }

  private def oneHotDf(bases: Seq[Int]) = {
    val s = spark
    import s.implicits._
    bases.zipWithIndex.map { case (k, i) =>
      (i.toLong, Array.tabulate(64)(j => if (j == k) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
  }

  test("property: capped near-dup pairs — verified subset, exact under covering cap") {
    val genCase = for {
      n     <- Gen.chooseNum(2, 20)
      bases <- Gen.listOfN(n, Gen.chooseNum(0, 3)) // 4 distinct vectors → forced dup pairs
      cap   <- Gen.chooseNum(1, 6)
    } yield (bases, cap)
    samples(genCase, 8).foreach { case (bases, cap) =>
      val emb = oneHotDf(bases)
      val exact = prs(Similarity.nearDupPairs(emb, 999000L), "v1", "v2")
      val capped = prs(Similarity.nearDupPairs(emb, 999000L, maxBucket = Some(cap)), "v1", "v2")
      assert(capped.subsetOf(exact), s"cap=$cap over=${(capped -- exact).take(4)}")
      assert(prs(Similarity.nearDupPairs(emb, 999000L, maxBucket = Some(bases.size)), "v1", "v2")
        == exact)
      // every duplicated base still surfaces at least one pair under the cap
      val dupBases = bases.groupBy(identity).filter(_._2.size > 1).keySet
      dupBases.foreach { k =>
        val ids = bases.zipWithIndex.filter(_._1 == k).map(_._2.toLong).toSet
        assert(capped.exists { case (a, b) => ids(a) && ids(b) },
          s"duplicated base $k must keep a capped pair")
      }
    }
  }

  test("property: capped semDedup — removals are a subset, exact under covering cap") {
    val genCase = for {
      n     <- Gen.chooseNum(2, 18)
      bases <- Gen.listOfN(n, Gen.chooseNum(0, 3))
      cap   <- Gen.chooseNum(1, 5)
    } yield (bases, cap)
    samples(genCase, 6).foreach { case (bases, cap) =>
      val emb = oneHotDf(bases)
      def removed(mc: Option[Int]) =
        Similarity.semDedup(emb, 5, 999000L, mc)
          .where(org.apache.spark.sql.functions.col("removed"))
          .collect().map(_.getLong(0)).toSet
      val exact = removed(None)
      val capped = removed(Some(cap))
      assert(capped.subsetOf(exact), s"cap=$cap over-pruned=${(capped -- exact).take(4)}")
      assert(removed(Some(bases.size)) == exact)
    }
  }
}
