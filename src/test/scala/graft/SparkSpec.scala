package graft

import scala.collection.mutable

import org.apache.spark.graftshims.ListenerShim
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Graft

/** Shared local session for specs (one JVM-wide session, forked sbt test). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Every plan node the queries run by `body` executed, stages and
    * checkpoints included, with the body's result.
    */
  def executedNodes[T](body: => T): (T, Seq[SparkPlan]) = {
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    ListenerShim.waitUntilEmpty(sc, 30000)
    spark.listenerManager.register(listener)
    val out = try { val r = body; ListenerShim.waitUntilEmpty(sc, 30000); r }
      finally spark.listenerManager.unregister(listener)
    val walk = new AdaptiveSparkPlanHelper {}
    (out, plans.synchronized(plans.toList).flatMap(p => walk.collect(p) { case n => n }))
  }
}

object SparkSpec {
  lazy val session: SparkSession = Graft.local(4)
}
