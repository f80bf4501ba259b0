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

  /** A case with a block of exactly `cap` rows (group 0), one of
    * `cap + 1` rows (group 1) and `free` rows outside both (group -1),
    * each row with 8 small random values and a shuffled id:
    * (cap, rows of (id, group, values)).
    */
  private val genPlanted = for {
    cap  <- Gen.chooseNum(1, 5)
    free <- Gen.chooseNum(0, 12)
    n     = 2 * cap + 1 + free
    keys <- Gen.listOfN(n, Gen.chooseNum(0L, Long.MaxValue))
    vals <- Gen.listOfN(n, Gen.listOfN(8, Gen.chooseNum(0, 3)))
  } yield {
    val ids = keys.zipWithIndex.sortBy(_._1).map(_._2.toLong)
    val groups = Seq.fill(cap)(0) ++ Seq.fill(cap + 1)(1) ++ Seq.fill(free)(-1)
    (cap, ids.zip(groups).zip(vals).map { case ((id, g), v) => (id, g, v) })
  }

  /** The cap rule on the driver: each row lies in one block per band
    * (its i-th key); a block of at most `cap` rows gives all its pairs, a
    * larger one its min id → every other member; pairs are kept where
    * `ok` and are distinct across bands.
    */
  private def capReference(rows: Seq[(Long, Seq[Any])], cap: Int)(
      ok: (Long, Long) => Boolean): Set[(Long, Long)] =
    rows.flatMap { case (id, ks) => ks.zipWithIndex.map(_ -> id) }
      .groupBy(_._1).values.flatMap { members =>
        val ids = members.map(_._2).sorted
        if (ids.size <= cap) ids.combinations(2).map(p => (p(0), p(1))).toSeq
        else ids.tail.map(ids.head -> _)
      }.filter(ok.tupled).toSet

  private def assertReference(what: String, cap: Int, got: Set[(Long, Long)],
      want: Set[(Long, Long)]): Unit =
    assert(got == want, s"$what cap=$cap missing=${(want -- got).take(4)} " +
      s"extra=${(got -- want).take(4)}")

  test("property: capped outputs == the driver cap rule, blocks of cap and cap+1 rows") {
    val s = spark
    import s.implicits._
    val cases = samples(genPlanted, 6)
    // minhashCandidates, 4 bands: band 0 plants the two sized blocks
    cases.foreach { case (cap, rows) =>
      val sigs = rows.map { case (id, g, v) =>
        (id, if (g < 0) v else List(100 + g, 100 + g) ++ v.drop(2))
      }
      val got = prs(Dedup.minhashCandidates(sigDf(sigs), maxBucket = Some(cap)), "d1", "d2")
      val want = capReference(sigs.map { case (id, m) => id -> m.grouped(2).toSeq }, cap)(
        (_, _) => true)
      assertReference("minhashCandidates", cap, got, want)
    }
    // simhashPairs: blocks 5 and 6 planted, free rows in blocks 0..3
    cases.foreach { case (cap, rows) =>
      val hs = rows.map { case (id, g, v) =>
        id -> ((if (g < 0) v(0) else 5 + g) * 256L + v(1) + 4 * v(2))
      }.toMap
      val got = prs(Dedup.simhashPairs(hs.toSeq.toDF("doc_id", "simhash"), 2, Some(cap)),
        "d1", "d2")
      val want = capReference(hs.toSeq.map { case (id, h) => id -> Seq(h / 256) }, cap)(
        (a, b) => java.lang.Long.bitCount(hs(a) ^ hs(b)) <= 2)
      assertReference("simhashPairs", cap, got, want)
    }
    // bandedHammingPairs: lane 0 plants the two sized blocks
    cases.foreach { case (cap, rows) =>
      val lanes = rows.map { case (id, g, v) =>
        id -> ((if (g < 0) v(0) else 1000 * (g + 1)) +: v.slice(1, 4))
      }.toMap
      val sig = lanes.toSeq.map { case (id, l) => (id, l(0), l(1), l(2), l(3)) }
        .toDF("doc_id", "l0", "l1", "l2", "l3")
      val got = prs(Dedup.bandedHammingPairs(sig, "doc_id", Seq("l0", "l1", "l2", "l3"),
        2, Some(cap)), "d1", "d2")
      val want = capReference(lanes.toSeq, cap)((a, b) =>
        lanes(a).zip(lanes(b)).map { case (x, y) => Integer.bitCount(x ^ y) }.sum <= 2)
      assertReference("bandedHammingPairs", cap, got, want)
    }
    // nearDupPairs over one-hot vectors (cosine 1 iff same base): the
    // planted bases and the free pool sit in pairwise different buckets
    val bucketOf = oneHotDf(0 until 64)
      .select($"vec_id", Similarity.lshBucket($"embedding").as("b"))
      .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val baseA = 0
    val baseB = (1 until 64).find(k => bucketOf(k) != bucketOf(baseA)).get
    val pool = (0 until 64).filterNot(k => Set(bucketOf(baseA), bucketOf(baseB))(bucketOf(k)))
    assert(pool.size >= 4, s"one-hot buckets too few: $bucketOf")
    cases.foreach { case (cap, rows) =>
      val base = rows.map { case (id, g, v) =>
        id -> (if (g == 0) baseA else if (g == 1) baseB else pool(v(0)))
      }.toMap
      val byId = base.toSeq.sortBy(_._1)
      val emb = oneHotDf(byId.map(_._2))
      val got = prs(Similarity.nearDupPairs(emb, 999000L, maxBucket = Some(cap)), "v1", "v2")
      val want = capReference(byId.map { case (id, k) => id -> Seq(bucketOf(k)) }, cap)(
        (a, b) => base(a) == base(b))
      assertReference("nearDupPairs", cap, got, want)
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
