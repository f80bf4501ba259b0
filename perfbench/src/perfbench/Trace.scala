package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one call into the operator layer. All spans of one task
  * share `task`; the task's root span is every operator span's parent.
  */
final case class Span(id: Int, name: String, parent: Int, task: Int, startMs: Long, endMs: Long) {
  def wallS: Double = (endMs - startMs) / 1e3
}

/** Opens spans around operator calls. Untraced it only runs the body.
  * Traced it tags every Spark job the body launches with the span id
  * through a local property, which the [[Collector]] reads back.
  */
final class Tracer(spark: SparkSession, task: Int, val spans: Option[ArrayBuffer[Span]]) {
  private var stack = List.empty[Int]

  def span[T](name: String)(body: => T): T = spans match {
    case None => body
    case Some(buf) =>
      val sc = spark.sparkContext
      val id = Tracer.nextId.incrementAndGet()
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        buf += Span(id, name, parent, task, t0, System.currentTimeMillis())
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
      }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val FenceKey = "perfbench.fence"
  private val nextId = new java.util.concurrent.atomic.AtomicInteger()
  def untraced(spark: SparkSession): Tracer = new Tracer(spark, 0, None)
}

/** Per-span totals over the Spark jobs, stages and tasks a span launched. */
final class SpanAcc {
  val jobs = ArrayBuffer.empty[(Long, Long)]
  var cpuNs, runMs, gcMs, shuffleWrite, spill, recordsRead, bytesWritten = 0L
  val stageTaskMs = mutable.HashMap.empty[Int, ArrayBuffer[Long]]
}

/** Per-action plan shape and planning time from the final executed plan. */
final case class PlanStats(exchanges: Int, reused: Int, smj: Int, bhj: Int, bnlj: Int, compileS: Double)

/** The benchmark's own listener pair: a SparkListener for jobs, stages
  * and task metrics, and a QueryExecutionListener for plan shape. Both
  * are attached through public APIs for one traced task and removed
  * after it. Fence jobs bracket the task on the listener bus, so events
  * from before and after it are ignored and the collector knows when
  * the bus has delivered everything the task produced.
  */
final class Collector(spark: SparkSession) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private var armed = false
  private var endFence = -1
  private val ended = new CountDownLatch(1)
  val accs = mutable.HashMap.empty[String, SpanAcc]
  val plans = ArrayBuffer.empty[PlanStats]
  var unattributedJobs = 0
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    prop(e.properties, Tracer.FenceKey) match {
      case Some("begin") => armed = true
      case Some(_) => endFence = e.jobId
      case None if armed =>
        prop(e.properties, Tracer.SpanKey) match {
          case Some(s) => jobStart(e.jobId) = (s, e.time)
          case None => unattributedJobs += 1
        }
      case None =>
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobId == endFence) { armed = false; ended.countDown() }
    jobStart.remove(e.jobId).foreach { case (s, t0) =>
      accs.getOrElseUpdate(s, new SpanAcc).jobs += ((t0, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (armed && prop(e.properties, Tracer.FenceKey).isEmpty)
      prop(e.properties, Tracer.SpanKey).foreach(stageSpan(e.stageInfo.stageId) = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = accs.getOrElseUpdate(s, new SpanAcc)
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
      a.bytesWritten += m.outputMetrics.bytesWritten
      a.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  /** Bytes each block holds in Spark's memory store: cached and
    * checkpointed partitions and broadcast pieces, counted from the
    * task's start.
    */
  private val blockMem = mutable.HashMap.empty[String, Long]
  private var blockMemNow = 0L
  var blockMemPeak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    if (armed) {
      val (id, size) = (e.blockUpdatedInfo.blockId.name, e.blockUpdatedInfo.memSize)
      blockMemNow = math.max(0L, blockMemNow + size - blockMem.getOrElse(id, 0L))
      if (size > 0) blockMem(id) = size else blockMem.remove(id)
      blockMemPeak = math.max(blockMemPeak, blockMemNow)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    if (armed) plans += planStats(qe)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def planStats(qe: QueryExecution): PlanStats = {
    val plan: SparkPlan = qe.executedPlan
    def n(pf: PartialFunction[SparkPlan, Int]): Int = collectWithSubqueries(plan)(pf).sum
    PlanStats(
      n { case _: Exchange => 1 },
      n { case _: ReusedExchangeExec => 1 },
      n { case _: SortMergeJoinExec => 1 },
      n { case _: BroadcastHashJoinExec => 1 },
      n { case _: BroadcastNestedLoopJoinExec => 1 },
      qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
  }

  private def fence(token: String): Unit = {
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, null)
    sc.setLocalProperty(Tracer.FenceKey, token)
    try sc.parallelize(Seq(0), 1).count()
    finally {
      sc.setLocalProperty(Tracer.FenceKey, null)
      sc.setLocalProperty(Tracer.SpanKey, saved)
    }
  }

  /** Attach, fence, run `body`, fence, wait for the bus, detach. */
  def record[T](body: => T): T = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    try {
      fence("begin")
      body
    } finally {
      fence("end")
      if (!ended.await(60, TimeUnit.SECONDS))
        System.err.println("perfbench: listener bus did not drain within 60 s")
      spark.listenerManager.unregister(this)
      spark.sparkContext.removeSparkListener(this)
    }
  }
}
