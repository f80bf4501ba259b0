package graft.operators

import scala.collection.mutable

import org.apache.spark.graftshims.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** Guards the pageRank lineage-cut discipline: 20 iterations must produce
  * a BOUNDED analyzed plan (each localCheckpoint collapses the prior
  * rounds into a LogicalRDD leaf) and still compute the same ranks as a
  * driver-side reference of the identical integer recurrence.
  */
class PageRankDepthSpec extends SparkSpec {

  private val edges: Seq[(Long, Long)] =
    Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 1L, 2L -> 4L)

  /** Reference: the same ×10^6 integer recurrence, driver-side. */
  private def refRanks(iters: Int): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val nn = nodes.size.toLong
    val outdeg = edges.groupBy(_._1).map { case (k, vs) => k -> vs.size.toLong }
    var r = nodes.map(n => n -> (1000000L / nn)).toMap
    for (_ <- 0 until iters) {
      val contrib = edges
        .map { case (u, v) => v -> (r(u) / outdeg(u)) }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      r = nodes.map(n =>
        n -> (150000L / nn + (850000L * contrib.getOrElse(n, 0L)) / 1000000L)).toMap
    }
    r
  }

  test("pageRank iters=20 keeps a bounded plan and matches the reference recurrence") {
    val s = spark
    import s.implicits._
    val e = edges.toDF("src", "dst")

    val shallow = Graphs.pageRank(e, 2)
    val deep = Graphs.pageRank(e, 20)

    // Without lineage cuts the analyzed tree grows ~geometrically per
    // superstep (each round embeds the last). With checkpoints every 3
    // rounds, only the (≤3) post-checkpoint rounds remain in-plan, so the
    // 20-iteration tree must stay within a small constant factor of the
    // 2-iteration tree rather than ~2^18 times larger.
    def planSize(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case p => p }.size
    val (s2, s20) = (planSize(shallow), planSize(deep))
    assert(s20 <= s2 * 4,
      s"pageRank(20) plan has $s20 nodes vs $s2 for pageRank(2): lineage is accumulating")

    val got = deep.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refRanks(20))
  }

  test("bfsHops maxHops=20 on a long path stays bounded and exact") {
    val s = spark
    import s.implicits._
    // 25-node path: hop level = node id, reachable up to the hop cap
    val path = (0L until 24L).map(i => i -> (i + 1))
    val e = path.toDF("src", "dst")
    val deep = Graphs.bfsHops(e, maxHops = 20)
    def planSize(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case p => p }.size
    val shallowSize = planSize(Graphs.bfsHops(e, maxHops = 2))
    assert(planSize(deep) <= shallowSize * 6,
      s"bfs(20) plan ${planSize(deep)} nodes vs bfs(2) $shallowSize: lineage accumulating")
    val got = deep.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L to 20L).map(i => i -> i).toMap)
  }

  test("every job a pageRank(iters = 4) call starts carries its job description, restored afterwards") {
    val s = spark
    import s.implicits._
    val e = edges.toDF("src", "dst")
    val descs = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = descs.synchronized {
        descs += js.properties.getProperty("spark.job.description")
      }
    }
    val sc = spark.sparkContext
    sc.setJobDescription("outer")
    ListenerShim.waitUntilEmpty(sc, 30000)
    sc.addSparkListener(listener)
    try {
      // iters > 3: the edge checkpoint and the iteration-3 rank cut run inside the call
      val ranks = Graphs.pageRank(e, iters = 4)
      assert(ranks.count() == 4)
      ListenerShim.waitUntilEmpty(sc, 30000)
    } finally sc.removeSparkListener(listener)
    assert(sc.getLocalProperty("spark.job.description") == "outer")
    sc.setJobDescription(null)
    // the checkpoints inside the call, then the caller's count outside it
    val (inside, after) = descs.synchronized(descs.toList).span(_ == "Graphs.pageRank")
    assert(inside.nonEmpty && after.nonEmpty && after.forall(_ == "outer"), inside ++ after)
  }
}
