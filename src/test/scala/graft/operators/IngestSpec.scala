package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `Dedup.ingest` twice equals a one-shot rebuild: on md5-seeded corpora,
  * `ingest(ingest(s0, a), b)` has the labels of `IngestState.rebuild`
  * over corpus ∪ a ∪ b and its bands as a set. Unverified, with and
  * without a hot-bucket cap — including buckets that cross the cap
  * between states — and Jaccard-verified under a cap that every
  * state-spanning bucket stays on one side of (with verification,
  * hub-star edge sets compose only then).
  */
class IngestSpec extends SparkSpec {

  /** 30 md5-derived 8-char words of group `g` under `seed`. */
  private def text(seed: Int, g: String): String =
    s"array_join(transform(sequence(0, 29), j -> substr(md5(concat('s$seed', '_', " +
      s"CAST(($g) AS STRING), '_', CAST(j AS STRING))), 1, 8)), ' ')"

  /** Ids 0–159: 80 near-dup pairs (every odd id drops 20 chars);
    * 160–199: singletons; 200–211: one boilerplate text (a bucket over
    * either cap from the corpus on).
    */
  private def corpus(seed: Int): DataFrame =
    spark.range(212).select(col("id").as("doc_id"), expr(s"""CASE
      WHEN id < 160 AND id % 2 = 0 THEN ${text(seed, "id div 2")}
      WHEN id < 160 THEN substr(${text(seed, "id div 2")}, 21)
      WHEN id < 200 THEN ${text(seed, "id")}
      ELSE ${text(seed, "-1")} END""").as("text"))

  /** Shard k (ids 1000k + i): near-dups of corpus pairs, fresh in-shard
    * pairs (shard 2 adds to half of shard 1's), bridges concatenating two
    * corpus groups (they merge existing components), two boilerplate docs.
    */
  private def shard(seed: Int, k: Int): DataFrame = {
    val fresh = if (k == 1) "1000 + id div 6"
      else "CASE WHEN (id div 6) % 2 = 0 THEN 1000 + id div 6 ELSE 2000 + id div 6 END"
    spark.range(32).select((lit(1000L * k) + col("id")).as("doc_id"), expr(s"""CASE
      WHEN id >= 30 THEN ${text(seed, "-1")}
      WHEN id % 3 = 0 THEN substr(${text(seed, s"((id div 3) * 7 + ${13 * k}) % 80")}, 11)
      WHEN id % 3 = 1 THEN ${text(seed, fresh)}
      ELSE concat(${text(seed, s"((id div 3) * 3 + $k) % 80")}, ' ',
        ${text(seed, s"((id div 3) * 5 + ${40 + k}) % 80")}) END""").as("text"))
  }

  private def bandsOf(docs: DataFrame): DataFrame =
    Dedup.lshBands(Dedup.minhashSignatures(docs, "doc_id", "text"))

  private def sameSet(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Buckets whose size crosses `cap` between the three states. */
  private def crossing(union: DataFrame, cap: Int): Long =
    bandsOf(union).groupBy("band", "bucket")
      .agg(count(when(col("doc_id") < 1000, 1)).as("s0"),
        count(when(col("doc_id") < 2000, 1)).as("s1"), count(lit(1)).as("s2"))
      .where(Seq("s0", "s1", "s2").map(c => col(c) > 0 && col(c) <= cap)
          .reduce(_ || _) &&
        Seq("s0", "s1", "s2").map(c => col(c) > cap).reduce(_ || _))
      .count()

  /** Asserts two ingests equal the rebuild; returns the labels. */
  private def twoIngests(seed: Int, cap: Option[Int],
      verify: DataFrame => DataFrame = identity): Map[Long, Long] = {
    val a = shard(seed, 1)
    val b = shard(seed, 2)
    val union = corpus(seed).unionAll(a).unionAll(b)
    val s0 = Dedup.IngestState.rebuild(bandsOf(corpus(seed)), cap, verify)
    val (s1, e1) = Dedup.ingest(s0, bandsOf(a), cap, verify)
    val (s2, e2) = Dedup.ingest(s1, bandsOf(b), cap, verify)
    assert(e1.count() > 0 && e2.count() > 0)
    val bandsU = bandsOf(union)
    assert(sameSet(s2.bands, bandsU), s"seed $seed cap $cap: bands != rebuild")
    val oneShot = Dedup.IngestState.rebuild(bandsU, cap, verify).labels
    assert(sameSet(s2.labels, oneShot), s"seed $seed cap $cap: labels != rebuild")
    s2.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private val seeds = Seq(11, 29)

  test("two unverified ingests equal the one-shot rebuild, uncapped") {
    for (seed <- seeds) {
      val labels = twoIngests(seed, None)
      // shards attach to corpus components and bridges merge two of them
      assert(labels.exists { case (d, c) => d >= 1000 && c < 1000 })
      assert(labels.values.toSet.size < labels.size)
    }
  }

  test("two unverified ingests equal the rebuild under a cap that buckets cross") {
    for (seed <- seeds) {
      val union = corpus(seed).unionAll(shard(seed, 1)).unionAll(shard(seed, 2))
      assert(crossing(union, 3) > 0, "the fixture must cross the cap between states")
      val labels = twoIngests(seed, Some(3))
      // the boilerplate bucket is over the cap: its members join the hub
      assert((200L to 211L).forall(labels(_) == 200L) &&
        Seq(1030L, 1031L, 2030L, 2031L).forall(labels(_) == 200L))
    }
  }

  test("two Jaccard-verified ingests equal the rebuild when spanning buckets keep their cap side") {
    for (seed <- seeds) {
      val union = corpus(seed).unionAll(shard(seed, 1)).unionAll(shard(seed, 2))
        .localCheckpoint(true)
      assert(crossing(union, 8) == 0, "the verified fixture must keep every bucket's cap side")
      val verify = (c: DataFrame) => Dedup.jaccardVerify(c, union, "doc_id", "text")
        .where(col("jaccard_scaled") >= 30000).select("d1", "d2")
      val labels = twoIngests(seed, Some(8), verify)
      assert(labels.exists { case (d, c) => d >= 2000 && c < 1000 })
      assert(labels(200L) == 200L && labels(2031L) == 200L)
    }
  }
}
