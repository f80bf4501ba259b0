package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the r10 iterative-operator fix: a localCheckpoint compiled under
  * AQE drops the relation's HashPartitioning (LogicalRDD reports
  * UnknownPartitioning), so every same-key consumer re-exchanges it —
  * which silently re-shuffled the edge relation in EVERY round of
  * connectedComponents / pageRank / bfsHopsFrom since AQE became the
  * engine default. Graft.partitionedCheckpoint compiles just the
  * checkpoint with AQE off (in a cloned session), preserving the
  * partitioning for consumers that themselves run WITH AQE on. These
  * tests fail if a Spark upgrade or a conf change breaks that mechanism,
  * or if the AQE-off compile leaks into the caller's session.
  */
class PartitionedCheckpointSpec extends SparkSpec {
  import PartitionedCheckpointSpec._

  /** Exchange count in the FINAL (post-AQE) plan tree only — the
    * formatted explain of an executed adaptive plan also prints the
    * Initial Plan, whose exchanges must not be double-counted.
    */
  private def exchanges(df: DataFrame): Int = {
    df.collect() // settle AQE on the final plan
    val s = df.queryExecution.explainString(FormattedMode)
    if (sys.env.contains("PCS_DEBUG")) println(s)
    val tree = s.split("== Initial Plan ==")(0)
    "(?m)^\\s*(?:[:+\\- ]*)Exchange ".r.findAllIn(tree).size
  }

  test("same-key consumers of a partitionedCheckpoint plan no exchange on it") {
    val base = spark.range(10000)
      .select((col("id") % 97).as("src"), col("id").as("dst"))
    val e = Graft.partitionedCheckpoint(
      base.repartition(col("src")).dropDuplicates(Seq("src", "dst")), col("src"))

    // groupBy on the preserved key: zero exchanges
    assert(exchanges(e.groupBy("src").agg(min("dst"))) == 0)

    // the CC round join shape: sym side exchange-free, only the |V|-sized
    // labels relation and the final groupBy shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val labels = spark.range(97).select(col("id").as("v"), col("id").as("lbl"))
      val round = e.join(labels, e("src") === labels("v"))
        .select(col("dst").as("v"), col("lbl"))
        .unionAll(labels)
        .groupBy("v").agg(min("lbl").as("lbl"))
      assert(exchanges(round) == 2, // labels into the join + the groupBy
        "expected only the labels-side and groupBy exchanges")

      // control: the SAME plan over a plain (AQE-compiled) checkpoint
      // re-exchanges the edge relation — the defect this helper removes
      val plain = base.repartition(col("src"))
        .dropDuplicates(Seq("src", "dst")).localCheckpoint()
      val roundPlain = plain.join(labels, plain("src") === labels("v"))
        .select(col("dst").as("v"), col("lbl"))
        .unionAll(labels)
        .groupBy("v").agg(min("lbl").as("lbl"))
      assert(exchanges(roundPlain) == 3,
        "control: AQE-compiled checkpoint should lose the partitioning " +
          "(if this starts passing with 2, Spark fixed the mechanism and " +
          "partitionedCheckpoint can be simplified)")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("stampedCheckpoint: v-keyed round output joins back exchange-free (single-Exchange round)") {
    // the r11 CC-round shape: sym stamped on src, labels stamped on v at
    // the SAME count — the round's only exchange is the propagation
    // groupBy, with the partial aggregate below it
    val base = spark.range(10000)
      .select((col("id") % 97).as("src"), col("id").as("dst"))
    val sym = Graft.partitionedCheckpoint(
      base.repartition(col("src")).dropDuplicates(Seq("src", "dst")), col("src"))
    val p = sym.rdd.getNumPartitions
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // init: groupBy rides sym's stamp — compiled stamped, ZERO exchanges
    val init = Graft.stampedCheckpoint(
      sym.groupBy(col("src").as("v")).agg(min("dst").as("lbl")), p)
    assert(init.rdd.getNumPartitions == p)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def round(lbl: org.apache.spark.sql.DataFrame) =
        sym.join(lbl, sym("src") === lbl("v"))
          .select(col("dst").as("v"), col("lbl"))
          .unionAll(lbl)
          .groupBy("v").agg(min("lbl").as("lbl"))
      assert(exchanges(round(init)) == 1,
        "stamped labels: the round's single exchange is the groupBy")
      // and the stamped ROUND OUTPUT itself feeds the next round
      // exchange-free too (the loop invariant)
      val next = Graft.stampedCheckpoint(round(init), p)
      assert(exchanges(round(next)) == 1)
      // row identity vs the unstamped computation
      val got = next.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = round(init).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a stamped checkpoint in flight leaves the session conf to a concurrent Par leg") {
    val (aqe, parts) = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val sessionParts = spark.conf.get(parts)
    // leg A's tasks park inside the eager checkpoint until leg B is done
    val park = udf { (x: Long) =>
      inTask.countDown()
      release.await(60, TimeUnit.SECONDS)
      x
    }
    val (_, (aqeSeen, partsSeen, plan)) = Par.two {
      Graft.stampedCheckpoint(
        spark.range(8).select(park(col("id")).as("id")), 3, eager = true)
    } {
      try {
        assert(inTask.await(60, TimeUnit.SECONDS), "leg A never reached its task")
        val other = spark.range(100).groupBy((col("id") % 7).as("k")).count()
        (spark.conf.get(aqe), spark.conf.get(parts), other.queryExecution.executedPlan)
      } finally release.countDown()
    }
    assert(aqeSeen == "true", "AQE was off for the session while leg A compiled")
    assert(partsSeen == sessionParts, "leg A's partition count leaked into the session")
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec],
      s"leg B's plan was compiled without AQE:\n$plan")
  }

  test("partitionedCheckpoint preserves rows exactly") {
    val base = spark.range(5000)
      .select((col("id") % 37).as("src"), (col("id") % 211).as("dst"))
    val got = Graft.partitionedCheckpoint(
      base.repartition(col("src")).dropDuplicates(Seq("src", "dst")), col("src"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = base.dropDuplicates(Seq("src", "dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }
}

object PartitionedCheckpointSpec {
  // latches live in an object so the UDF closure reaches them statically
  val inTask = new CountDownLatch(1)
  val release = new CountDownLatch(1)
}
