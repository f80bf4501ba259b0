package graft.operators

import scala.collection.mutable

import org.apache.spark.graftshims.ListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Property pin for [[Dedup.jaccardVerify]] against a driver-side brute
  * force: random corpora and random candidate lists — including DANGLING
  * doc ids (no doc row: the pair silently drops, by the inner-join
  * contract) and DUPLICATE candidate rows (preserved: the operator never
  * dedupes its input) — must reproduce the exact 8-char-shingle Jaccard
  * (distinct shingles, floor(1e5·|∩|/|∪|) through the same double op).
  */
class JaccardPropertySpec extends SparkSpec {

  private def shingleSet(s: String, k: Int = 8): Set[String] = {
    val nt = s.trim.toLowerCase.replaceAll("\\s+", " ")
    val n = math.max(nt.length - k + 1, 1)
    (0 until n).map(i => nt.slice(i, i + k)).toSet
  }

  test("property: jaccardVerify == brute force incl. dangling + duplicate candidates") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20260816L)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    for (_ <- 1 to 6) {
      val docs = (1L to 20L).map(i =>
        (i, (1 to (3 + rnd.nextInt(10)))
          .map(_ => words(rnd.nextInt(words.size))).mkString(" ")))
      val byId = docs.toMap
      // ids 21/22 are dangling; three pairs repeat
      val base = (1 to 15).map { _ =>
        val a = 1 + rnd.nextInt(22); val b = 1 + rnd.nextInt(22)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter(p => p._1 != p._2)
      val cands = base ++ base.take(3)
      val got = Dedup.jaccardVerify(cands.toDF("d1", "d2"), docs.toDF("doc_id", "text"),
          "doc_id", "text")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sorted.toSeq
      val want = cands
        .filter(p => byId.contains(p._1) && byId.contains(p._2))
        .map { case (a, b) =>
          val (sa, sb) = (shingleSet(byId(a)), shingleSet(byId(b)))
          val inter = (sa & sb).size.toLong
          val union = sa.size + sb.size - inter
          (a, b, inter, union, math.floor(100000.0 * inter / union).toLong)
        }.sorted
      assert(got == want, s"got $got\nwant $want")
    }
  }

  /** Driver-side md5 hex — the bottom-K order key the cap uses. */
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("property: capped jaccardVerify == brute force over per-doc bottom-K shingles") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20260817L)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    for (_ <- 1 to 4) {
      // lengths straddle the cap: short docs stay exact, long docs truncate
      val docs = (1L to 16L).map(i =>
        (i, (1 to (2 + rnd.nextInt(30)))
          .map(_ => words(rnd.nextInt(words.size))).mkString(" ")))
      val byId = docs.toMap
      val cands = (1 to 12).map { _ =>
        val a = 1 + rnd.nextInt(16); val b = 1 + rnd.nextInt(16)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter(p => p._1 != p._2)
      val k = 25
      def bottomK(ss: Set[String]): Set[String] =
        ss.toSeq.sortBy(sh => (md5hex(sh), sh)).take(k).toSet
      val got = Dedup.jaccardVerify(cands.toDF("d1", "d2"),
          docs.toDF("doc_id", "text"), "doc_id", "text",
          maxShingles = Some(k))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sorted.toSeq
      val want = cands.map { case (a, b) =>
        val (sa, sb) = (bottomK(shingleSet(byId(a))), bottomK(shingleSet(byId(b))))
        val inter = (sa & sb).size.toLong
        val union = sa.size + sb.size - inter
        (a, b, inter, union, math.floor(100000.0 * inter / union).toLong)
      }.sorted
      assert(got == want, s"got $got\nwant $want")
      // the cap never grows a set: every capped row's union is ≤ exact's
      val exact = Dedup.jaccardVerify(cands.toDF("d1", "d2"),
          docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
      got.foreach { case (d1, d2, _, nu, _) =>
        assert(nu <= exact((d1, d2)), s"capped union exceeds exact for ($d1,$d2)")
      }
      // docs all under the cap ⇒ capped ≡ exact (the identity leg)
      val gotBig = Dedup.jaccardVerify(cands.toDF("d1", "d2"),
          docs.toDF("doc_id", "text"), "doc_id", "text",
          maxShingles = Some(10000))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sorted.toSeq
      val wantExact = cands.map { case (a, b) =>
        val (sa, sb) = (shingleSet(byId(a)), shingleSet(byId(b)))
        val inter = (sa & sb).size.toLong
        val union = sa.size + sb.size - inter
        (a, b, inter, union, math.floor(100000.0 * inter / union).toLong)
      }.sorted
      assert(gotBig == wantExact, "a cap above every set size must be exact")
    }
  }

  private def evaluates(n: SparkPlan, fn: String): Boolean =
    n.expressions.exists(_.exists(_.prettyName == fn))

  test("a caller filter on jaccard_scaled keeps one set build and one intersection per pair") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20261018L)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    // docs past 24 are never candidates: they make the doc relation's
    // size estimate exceed the candidates', so the pair join broadcasts
    // the candidates into a stream of sets, as on a real corpus
    val docs = (1L to 24L).map(i =>
      (i, (1 to (3 + rnd.nextInt(12)))
        .map(_ => words(rnd.nextInt(words.size))).mkString(" "))) ++
      (25L to 200L).map(i => (i, s"filler $i"))
    val byId = docs.toMap
    val cands = (for (a <- 1L to 24L; b <- a + 1 to 24L if rnd.nextInt(4) == 0) yield (a, b))
    val k = 20
    def bottomK(ss: Set[String]): Set[String] =
      ss.toSeq.sortBy(sh => (md5hex(sh), sh)).take(k).toSet
    val threshold = 40000L
    for ((cap, setOf) <- Seq[(Option[Int], String => Set[String])](
        None -> (t => shingleSet(t)), Some(k) -> (t => bottomK(shingleSet(t))))) {
      val (got, nodes) = executedNodes {
        Dedup.jaccardVerify(cands.toDF("d1", "d2"), docs.toDF("doc_id", "text"),
            "doc_id", "text", maxShingles = cap)
          .where(col("jaccard_scaled") > threshold)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          .sorted.toSeq
      }
      val want = cands.map { case (a, b) =>
        val (sa, sb) = (setOf(byId(a)), setOf(byId(b)))
        val inter = (sa & sb).size.toLong
        val union = sa.size + sb.size - inter
        (a, b, inter, union, math.floor(100000.0 * inter / union).toLong)
      }.filter(_._5 > threshold).sorted
      assert(want.nonEmpty && want.size < cands.size, s"threshold splits nothing: $cap")
      assert(got == want, s"cap $cap: got $got\nwant $want")
      val builds = nodes.filter(evaluates(_, "sorted_shingle_set"))
      assert(builds.size == 1, s"cap $cap: set built at ${builds.size} sites\n${builds.mkString("\n")}")
      val joinConds = nodes.collect { case j: BaseJoinExec => j.condition.toSeq }.flatten
        .filter(_.exists(_.prettyName == "sorted_intersect_count"))
      assert(joinConds.isEmpty, s"cap $cap: intersection in join conditions: $joinConds")
      assert(nodes.count(evaluates(_, "sorted_intersect_count")) == 1, s"cap $cap")
    }
  }

  test("every job the verify call starts carries its job description, restored afterwards") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma epsilon"),
      (3L, "zeta eta theta iota")).toDF("doc_id", "text")
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("d1", "d2")
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
      val pairs = Dedup.jaccardVerify(cands, docs, "doc_id", "text")
      assert(pairs.count() == 2)
      ListenerShim.waitUntilEmpty(sc, 30000)
    } finally sc.removeSparkListener(listener)
    assert(sc.getLocalProperty("spark.job.description") == "outer")
    sc.setJobDescription(null)
    // the set build inside the call, then the caller's count outside it
    val (inside, after) = descs.synchronized(descs.toList).span(_ == "Dedup.jaccardVerify")
    assert(inside.nonEmpty && after.nonEmpty && after.forall(_ == "outer"), inside ++ after)
  }
}
