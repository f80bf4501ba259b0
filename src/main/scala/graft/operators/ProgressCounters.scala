package graft.operators

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Progress counters (SURVEY A8; `processor_migrate_stats.go`,
  * `migration_progress_status.go` — atomic rows-read/processed counters
  * with a ticker). Spark-native form: a SparkListener aggregating task
  * metrics; counters are driver-side LongAdders exactly like the
  * reference's atomics, fed by the scheduler instead of worker code.
  */
final class ProgressCounters private () extends SparkListener {
  private val rowsRead      = new LongAdder
  private val rowsWritten   = new LongAdder
  private val shuffleBytes  = new LongAdder
  private val shuffleRecordsWritten = new LongAdder
  private val tasksFinished = new LongAdder

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      rowsRead.add(m.inputMetrics.recordsRead)
      rowsWritten.add(m.outputMetrics.recordsWritten)
      shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      shuffleRecordsWritten.add(m.shuffleWriteMetrics.recordsWritten)
      tasksFinished.increment()
    }
  }

  final case class Snapshot(rowsRead: Long, rowsWritten: Long, shuffleBytes: Long,
      shuffleRecordsWritten: Long, tasks: Long)

  def snapshot(): Snapshot =
    Snapshot(rowsRead.sum(), rowsWritten.sum(), shuffleBytes.sum(),
      shuffleRecordsWritten.sum(), tasksFinished.sum())
}

object ProgressCounters {
  /** Attach a fresh counter set to the session's scheduler. */
  def attach(spark: SparkSession): ProgressCounters = {
    val pc = new ProgressCounters
    spark.sparkContext.addSparkListener(pc)
    pc
  }

  def detach(spark: SparkSession, pc: ProgressCounters): Unit =
    spark.sparkContext.removeSparkListener(pc)
}
