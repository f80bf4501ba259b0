package graft.operators

import scala.collection.mutable

import org.apache.spark.graftshims.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec

class ConnectedComponentsSpec extends SparkSpec {

  // a negative finish gate forces the distributed propagation fallback
  private def gated(pairs: DataFrame) = Dedup.connectedComponentsGated(pairs, 50, Long.MaxValue)
  private def fallback(pairs: DataFrame) = Dedup.connectedComponentsGated(pairs, 50, -1L)

  private def labelsOf(df: DataFrame): Map[Any, Any] =
    df.collect().map(r => r.get(0) -> r.get(1)).toMap

  /** Driver-side union-find: every endpoint → its component's least id. */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(v: Long): Long = {
      val p = parent.getOrElseUpdate(v, v)
      if (p == v) v else { val r = find(p); parent(v) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** A seeded graph with self-loops, duplicate and reversed edges,
    * isolated pairs, a 300-deep chain, a 500-leaf star whose hub is its
    * largest id, and a random tangle, shuffled.
    */
  private def graph(seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val base = rnd.nextInt(1000) * 1000L
    val chain = (0L until 300L).map(i => (base + i, base + i + 1))
    val star = (0L until 500L).map(i => (base + 20500L, base + 20000L + i))
    val isolated = (0L until 20L).map(i => (base + 50000L + 2 * i, base + 50001L + 2 * i))
    val tangle = Seq.fill(200)((base + 60000L + rnd.nextInt(150), base + 60000L + rnd.nextInt(150)))
    val selfLoops = Seq((base + 70000L, base + 70000L), (base + 5L, base + 5L))
    val edges = chain ++ star ++ isolated ++ tangle ++ selfLoops
    val again = rnd.shuffle(edges).take(150).map { case (a, b) => if (rnd.nextBoolean()) (b, a) else (a, b) }
    rnd.shuffle(edges ++ again)
  }

  test("path graph + separate clique resolve to min-label components") {
    val s = spark
    import s.implicits._
    // path 1-2-3-4-5 (diameter 4 — forces several propagation rounds),
    // clique 10-11-12, and an isolated pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L)).toDF("d1", "d2")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(comp(_) == 1L))
    assert((10L to 12L).forall(comp(_) == 10L))
    assert(comp(20L) == 20L && comp(21L) == 20L)
    assert(comp.size == 10)
  }

  test("deep chain (diameter > maxIter) converges exactly; empty edges OK") {
    val s = spark
    import s.implicits._
    // a 120-vertex path has diameter 119 — far past the default
    // maxIter=50, so plain per-round propagation CANNOT finish: the
    // pre-r9 loop silently returned unconverged labels on this graph
    // (caught by the `cc` scale family's 1M chain shape: 13× the true
    // component count). Path-shortcutting must converge it in O(log 119)
    // rounds and label every vertex with the true minimum.
    val pairs = (1L until 120L).map(i => (i, i + 1)).toDF("d1", "d2")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 120 && comp.values.forall(_ == 1L),
      s"distinct labels: ${comp.values.toSet}")
    val empty = Seq.empty[(Long, Long)].toDF("d1", "d2")
    assert(Dedup.connectedComponents(empty).count() == 0)
  }

  test("incremental merge == full CC over old ∪ new pairs, old labels rewritten") {
    val s = spark
    import s.implicits._
    // prior clustering: {1,2}, {5,6}, {10,11}, isolated pair {20,21}
    val oldPairs = Seq((1L, 2L), (5L, 6L), (10L, 11L), (20L, 21L)).toDF("d1", "d2")
    val labels = Dedup.connectedComponents(oldPairs).localCheckpoint()
    // new edges: bridge TWO existing components (2-5 — rewrites {5,6}'s
    // label to 1), attach a new vertex to an existing component (30-10),
    // a brand-new pair (40,41), and a no-op edge inside {20,21}
    val newPairs = Seq((2L, 5L), (30L, 10L), (40L, 41L), (20L, 21L)).toDF("d1", "d2")
    val inc = Dedup.incrementalComponents(labels, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.connectedComponents(oldPairs.unionAll(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full, s"inc=$inc full=$full")
    // the bridge rewrote the absorbed component's every member
    assert(inc(5L) == 1L && inc(6L) == 1L)
    // untouched component kept its label; new vertices labeled
    assert(inc(20L) == 20L && inc(21L) == 20L)
    assert(inc(30L) == 10L && inc(40L) == 40L && inc(41L) == 40L)
  }

  test("deep chain MERGE: 120 components bridged pairwise collapse to one label") {
    val s = spark
    import s.implicits._
    // 120 existing 2-member components; the shard bridges them in a
    // chain, so the COLLAPSED meta-graph is itself a 120-vertex path —
    // the meta-CC must survive diameter > maxIter exactly like the
    // corpus loop (the pre-r9 loop would have silently fragmented this
    // merge into ~maxIter-deep segments)
    val oldPairs = (0L until 120L).map(i => (1000 + 2 * i, 1001 + 2 * i)).toDF("d1", "d2")
    val labels = Dedup.connectedComponents(oldPairs).localCheckpoint()
    val bridges = (0L until 119L).map(i => (1001 + 2 * i, 1002 + 2 * i)).toDF("d1", "d2")
    val inc = Dedup.incrementalComponents(labels, bridges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc.size == 240 && inc.values.forall(_ == 1000L),
      s"all 240 members must merge to component 1000: ${inc.values.toSet}")
  }

  test("incremental merge is exact even when a new vertex undercuts an old label") {
    val s = spark
    import s.implicits._
    val labels = Dedup.connectedComponents(Seq((10L, 11L)).toDF("d1", "d2"))
      .localCheckpoint()
    // new vertex 3 < old label 10: the merged component's true min is 3
    val inc = Dedup.incrementalComponents(labels, Seq((3L, 11L)).toDF("d1", "d2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == Map(10L -> 3L, 11L -> 3L, 3L -> 3L), inc.toString)
  }

  test("property: gated union-find and propagation fallback both equal a driver-side union-find") {
    val s = spark
    import s.implicits._
    def pairsOf(edges: Seq[(Long, Long)], int: Boolean): DataFrame =
      if (int) spark.sparkContext.parallelize(edges.map { case (a, b) => (a.toInt, b.toInt) }, 4).toDF("d1", "d2")
      else spark.sparkContext.parallelize(edges, 4).toDF("d1", "d2")
    val cases = (1L to 3L).map(seed => s"seed $seed" -> graph(seed)) :+ ("empty" -> Seq.empty[(Long, Long)])
    for ((name, edges) <- cases; int <- Seq(false, true) if !int || name != "seed 2") {
      val want = reference(edges)
      val idType = if (int) IntegerType else LongType
      val pairs = pairsOf(edges, int)
      val paths = Seq("gated" -> gated(pairs), "fallback" -> fallback(pairs))
      paths.foreach { case (path, (labels, n)) =>
        val got = labelsOf(labels).map { case (v, c) =>
          v.asInstanceOf[Number].longValue -> c.asInstanceOf[Number].longValue }
        assert(got == want, s"$name $idType $path: labels differ from union-find")
        assert(n == want.size, s"$name $idType $path: count $n, want ${want.size}")
        // the parent loop's schema: ids keep their type, doc_id the input
        // nullability, component nullable
        assert(labels.schema == StructType(Seq(StructField("doc_id", idType, nullable = false),
          StructField("component", idType, nullable = true))), s"$name $idType $path: ${labels.schema}")
      }
    }
  }

  test("contraction: chunked per-partition forests keep the partition's connectivity") {
    val edges = graph(7L)
    val forest = Dedup.contract(64)(edges.iterator.map(e => Row(e._1, e._2))).toSeq
    assert(forest.size > 64, "the 64-vertex bound must split the partition into chunks")
    assert(reference(forest.map(r => (r.getLong(0), r.getLong(1)))) == reference(edges))
  }

  test("a NULL endpoint is one unlinked pseudo-vertex labeled by its least neighbor component") {
    val ids = StructType(Seq(StructField("d1", LongType), StructField("d2", LongType)))
    def pairs(rows: Row*) = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), ids)
    // pinned from the propagation loop, which was the only path before the
    // union-find: NULL never links 2, 5 and 8, and takes min(1, 5, 7)
    val cases = Seq(
      pairs(Row(1L, 2L), Row(null, 2L), Row(5L, null), Row(7L, 8L), Row(null, 8L)) ->
        Map[Any, Any](1L -> 1L, 2L -> 1L, 5L -> 5L, 7L -> 7L, 8L -> 7L, (null, 1L)),
      pairs(Row(null, null), Row(3L, 4L)) -> Map[Any, Any](3L -> 3L, 4L -> 3L, (null, null)),
      pairs(Row(null, 9L)) -> Map[Any, Any](9L -> 9L, (null, 9L)))
    for ((p, want) <- cases; run <- Seq(gated _, fallback _)) {
      val (labels, n) = run(p)
      assert(labelsOf(labels) == want)
      assert(n == want.size)
      assert(labels.schema.forall(_.nullable))
    }
    // a NULL-only edge list has no label at all: both paths fail loud
    for (run <- Seq(gated _, fallback _)) {
      val e = intercept[Exception](run(pairs(Row(null, null))))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[IllegalStateException]), e.toString)
    }
  }

  test("every CC job carries the operator's job description, restored afterwards") {
    val s = spark
    import s.implicits._
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
      val (labels, _) = fallback(Seq((1L, 2L), (2L, 3L)).toDF("d1", "d2"))
      assert(labels.count() == 3)
      ListenerShim.waitUntilEmpty(sc, 30000)
    } finally sc.removeSparkListener(listener)
    assert(sc.getLocalProperty("spark.job.description") == "outer")
    sc.setJobDescription(null)
    // the operator's jobs, then the caller's count outside it
    val (inside, after) = descs.synchronized(descs.toList).span(_ == "Dedup.connectedComponents")
    assert(inside.size > 2 && after.nonEmpty && after.forall(_ == "outer"), inside ++ after)
  }
}
