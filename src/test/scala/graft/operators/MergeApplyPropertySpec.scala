package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Migrate.mergeApply against a reference Map model: for any target and
  * any keyed batch (matched/unmatched × U/D/I/NULL op, repeated keys on
  * either side, NULL key parts, one- or two-column keys, with or without
  * an op column), the anti-join + append equals the per-key decision
  * table of REPLACE INTO.
  */
class MergeApplyPropertySpec extends SparkSpec {

  private type Key = Seq[Option[Long]]

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(77L + i)))

  private def frame(rows: Seq[Seq[Any]], fields: Seq[StructField]): DataFrame =
    spark.createDataFrame(rows.map(Row.fromSeq).asJava, StructType(fields))

  private def keyFields(arity: Int) = (1 to arity).map(i => StructField(s"k$i", LongType))

  /** Result rows as a multiset of (key, v). */
  private def bag(rows: Seq[(Key, Long)]): Map[(Key, Long), Int] =
    rows.groupMapReduce(identity)(_ => 1)(_ + _)

  private def collectBag(df: DataFrame, arity: Int): Map[(Key, Long), Int] =
    bag(df.collect().toSeq.map(r =>
      ((0 until arity).map(i => Option(r.get(i)).map(_.asInstanceOf[Long])), r.getLong(arity))))

  /** The decision table, one key at a time: a key with a NULL part never
    * matches (its target rows survive, its upserts append); a key the
    * batch carries keeps only the batch's upserts (every row without an
    * op column, else the rows whose op is not 'D' — a NULL op acts as
    * 'D'); any other key keeps its target rows.
    */
  private def model(target: Seq[(Key, Long)], batch: Seq[(Key, Option[String], Long)],
      withOp: Boolean): Seq[(Key, Long)] = {
    val upserts = batch.groupMap(_._1) { case (_, op, v) => (op, v) }.view
      .mapValues(_.collect { case (op, v) if !withOp || op.exists(_ != "D") => v }).toMap
    val rows = target.groupMap(_._1)(_._2)
    (rows.keySet ++ upserts.keySet).toSeq.flatMap { k =>
      val vs =
        if (k.exists(_.isEmpty)) rows.getOrElse(k, Nil) ++ upserts.getOrElse(k, Nil)
        else upserts.getOrElse(k, rows(k))
      vs.map(k -> _)
    }
  }

  private def genKey(arity: Int, hi: Long): Gen[Key] =
    Gen.listOfN(arity, Gen.frequency(9 -> Gen.choose(0L, hi).map(Option(_)), 1 -> Gen.const(None)))

  private def genCase(arity: Int, hi: Long) = for {
    target <- Gen.listOf(Gen.zip(genKey(arity, hi), Gen.choose(0L, 999L)))
    batch <- Gen.listOf(Gen.zip(
      genKey(arity, hi + math.max(2L, hi / 3)), // keys beyond the target range ⇒ unmatched
      Gen.frequency(3 -> Gen.const(Option("U")), 2 -> Gen.const(Option("D")),
        2 -> Gen.const(Option("I")), 1 -> Gen.const(None)),
      Gen.choose(1000L, 1999L)))
  } yield (target, batch)

  private def checkModel(arity: Int, hi: Long, withOp: Boolean): Unit = {
    val keys = keyFields(arity)
    samples(genCase(arity, hi), 12).foreach { case (t, b) =>
      val target = frame(t.map { case (k, v) => k.map(_.getOrElse(null)) :+ v },
        keys :+ StructField("v", LongType))
      val batch = frame(b.map { case (k, op, v) => (k.map(_.getOrElse(null)) :+ op.orNull) :+ v },
        (keys :+ StructField("op", StringType)) :+ StructField("v", LongType))
      val got = Migrate.mergeApply(target, if (withOp) batch else batch.drop("op"),
        keys.map(_.name), Option.when(withOp)("op"))
      assert(collectBag(got, arity) == bag(model(t, b, withOp)), s"target=$t batch=$b")
    }
  }

  test("property: mergeApply equals the Map-model semantics on random batches") {
    checkModel(arity = 1, hi = 15, withOp = true)
  }

  test("property: composite two-column keys follow the same decision table") {
    checkModel(arity = 2, hi = 4, withOp = true)
  }

  test("property: opCol = None is REPLACE INTO — every batch row upserts") {
    checkModel(arity = 1, hi = 15, withOp = false)
  }

  test("a NULL op acts as 'D'; a repeated target key is replaced, not paired") {
    val s = spark
    import s.implicits._
    val target = Seq((1L, 10L), (2L, 20L), (3L, 30L), (3L, 31L)).toDF("k", "v")
    val batch = Seq[(Long, String, Long)]((1L, null, 11L), (4L, null, 40L), (3L, "U", 32L))
      .toDF("k", "op", "v")
    val got = Migrate.mergeApply(target, batch, Seq("k"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq(2L -> 20L, 3L -> 32L))
  }

  test("a small batch plans a broadcast left-anti join and no sort-merge join") {
    val target = spark.range(50000).select(col("id").as("k"), (col("id") % 97).as("v"))
    val batch = spark.range(0, 50000, 100)
      .select(col("id").as("k"), when(col("id") % 300 === 0, "D").otherwise("U").as("op"),
        lit(-1L).as("v"))
    val (n, nodes) = executedNodes(Migrate.mergeApply(target, batch, Seq("k")).count())
    assert(n == 50000 - 500 + 333)
    assert(nodes.exists {
      case j: BroadcastHashJoinExec => j.joinType == LeftAnti
      case _ => false
    }, nodes.map(_.nodeName).distinct)
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]))
  }

  test("property: changeCapture fed to mergeApply reconstructs the new snapshot") {
    val genPair = for {
      oldM <- Gen.mapOf(Gen.zip(Gen.choose(0L, 25L), Gen.choose(0L, 99L)))
      newM <- Gen.mapOf(Gen.zip(Gen.choose(0L, 25L), Gen.choose(0L, 99L)))
    } yield (oldM, newM)

    samples(genPair, 15).foreach { case (oldM, newM) =>
      val s = spark
      import s.implicits._
      val oldDf = oldM.toSeq.toDF("k", "v")
      val newDf = newM.toSeq.toDF("k", "v")
      val events = Migrate.changeCapture(oldDf, newDf, Seq("k"))
      val applied = Migrate.mergeApply(oldDf, events, Seq("k"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(applied == newM, s"old=$oldM new=$newM events=${events.collect().toSeq}")
    }
  }
}
