package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Graft

/** Every IVF path scores cells with one recipe, so they agree on ties: a
  * vector at EQUAL scaled cosine to two centroids takes the smaller ccid
  * as its home cell everywhere. Also pins the incremental pairs'
  * qid-∈-shard convention in both cap arms.
  *
  * 2-d corpus, centroids every 10th id: 0 = (1,0), 10 = (0,1),
  * 30 = (-1,0). Vector 5 = (1,1) ties between cells 0 and 10.
  */
class IvfTieBreakSpec extends SparkSpec {

  private def vectors(rows: (Long, Float, Float)*): DataFrame =
    spark.createDataFrame(rows.map { case (id, x, y) => (id, Array(x, y)) })
      .toDF("vec_id", "embedding")

  private lazy val corpus = vectors(
    (0L, 1f, 0f), (10L, 0f, 1f), (30L, -1f, 0f),
    (1L, 1f, 0.95f), (5L, 1f, 1f), (11L, 0.5f, 1f), (12L, 0.2f, 1f))

  private def cellOf(df: DataFrame, id: Long): Long =
    df.where(col("vec_id") === id).select(col("cell").cast("long")).head().getLong(0)

  test("a vector tied between two centroids takes the smaller ccid on every IVF path") {
    Graft.configure(spark)
    val cents = Similarity.ivfCentroids(corpus, 10)
    assert(cellOf(Similarity.ivfIndex(corpus, cents, 1), 5L) == 0L)
    assert(cellOf(Similarity.semDedup(corpus, 10, 999000L), 5L) == 0L)
    assert(cellOf(Similarity.clusterSample(corpus, 10, 100), 5L) == 0L)

    // the query (1,1) ties too: its one probe cell is 0 = {0, 1, 5}
    val query = vectors((100L, 1f, 1f))
    val top = Similarity.ivfTopK(corpus, query, 10, 10, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(top == Set((0L, 0L), (1L, 0L), (5L, 0L)))

    // exact top-2 of (1,1) is {5, 1}: the probe finds both only when the
    // query probes cell 0 AND vector 5's home cell is 0
    val recall = Similarity.ivfRecall(corpus, query, 2, 10, 1)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(recall.toSeq == Seq((100L, 1000L)))
  }

  test("incremental pairs keep qid in the shard, capped and uncapped") {
    Graft.configure(spark)
    // 23 and 31 crowd cell 30 with a SHARD hub (23 < 30); 25 ties into
    // cell 0, whose hub 0 is an index vector
    val shard = vectors((23L, -1f, 0.1f), (25L, 1f, 1f), (27L, 0.9f, 0.1f),
      (31L, -1f, -0.1f))
    val shardIds = Set(23L, 25L, 27L, 31L)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (nProbe <- Seq(1, 2); cap <- Seq(None, Some(1))) {
      val inc = pairs(Similarity.ivfIncrementalPairs(corpus, shard, 10, nProbe, cap))
      assert(inc.nonEmpty)
      assert(inc.forall { case (q, _) => shardIds(q) }, s"nProbe=$nProbe cap=$cap: $inc")
      val full = pairs(Similarity.ivfCandidatePairs(corpus.unionAll(shard), 10, nProbe, cap))
        .filter { case (q, _) => shardIds(q) }
      assert(inc == full, s"nProbe=$nProbe cap=$cap: inc=$inc full=$full")
    }
    // the capped star at nProbe = 1: cell 30's shard hub queries every
    // member, and cell 0's shard members query only the index hub 0
    val star = pairs(Similarity.ivfIncrementalPairs(corpus, shard, 10, 1, Some(1)))
    assert(star == Set((23L, 30L), (23L, 31L), (31L, 23L), (25L, 0L), (27L, 0L)))
  }
}
