package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Arbitrary stateful processing on the Spark 4 `transformWithState`
  * API — the modern successor of `flatMapGroupsWithState` that
  * [[CdcPipeline]] uses, with typed per-key state primitives
  * (ValueState/ListState/MapState), TTL, and timers.
  *
  * The reference's per-table running counters
  * (`database/processor/processor_migrate_stats.go`,
  * `migration_progress_status.go` — atomic rows-read/processed counters
  * per table) map onto exactly this: one ValueState per key holding the
  * running (count, sum), updated per micro-batch, state partitioned by
  * key across the cluster and persisted in the state store.
  */
object StatefulOps {

  /** Per-key running (count, sum) over an unbounded keyed stream of
    * (key, value): each micro-batch folds its rows into the key's
    * ValueState and emits one updated `(key, count, sum)` row. State is
    * O(keys); TTL is NONE because migration counters live for the task's
    * lifetime (pass a TTL for ephemeral keys).
    */
  class RunningTotals extends StatefulProcessor[String, (String, Long), (String, Long, Long)] {
    @transient private var totals: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)](
        "totals", Encoders.product[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[(String, Long)],
        timerValues: TimerValues): Iterator[(String, Long, Long)] = {
      var (c, s) = if (totals.exists()) totals.get() else (0L, 0L)
      rows.foreach { r => c += 1; s += r._2 }
      totals.update((c, s))
      Iterator.single((key, c, s))
    }
  }

  /** Wires [[RunningTotals]] onto a keyed stream. Update mode: each
    * batch re-emits the keys it touched with their new running totals.
    */
  def runningTotals(events: Dataset[(String, Long)]): Dataset[(String, Long, Long)] = {
    implicit val enc = Encoders.product[(String, Long, Long)]
    events
      .groupByKey(_._1)(Encoders.STRING)
      .transformWithState(
        new RunningTotals, TimeMode.None(), OutputMode.Update(), enc)
  }

  /** [[CdcPipeline.resolvedStep]] on the typed-state API: the per-table
    * DML buffer is a ListState (append-only between flushes — no
    * rewrite-the-whole-blob per batch, unlike GroupState), the checkpoint
    * ts a ValueState. The fold is the flatMapGroupsWithState twin's
    * ([[CdcPipeline.flushOnResolved]]); only the state I/O differs.
    */
  class ResolvedFlush extends StatefulProcessor[String, ChangeEvent, CdcPipeline.FlushedEvent] {
    @transient private var buffer: ListState[ChangeEvent] = _
    @transient private var ckpt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buffer = getHandle.getListState[ChangeEvent](
        "buffer", Encoders.product[ChangeEvent], TTLConfig.NONE)
      ckpt = getHandle.getValueState[Long]("ckpt", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        table: String,
        rows: Iterator[ChangeEvent],
        timerValues: TimerValues): Iterator[CdcPipeline.FlushedEvent] = {
      val (buffered, checkpoint, flushed) = CdcPipeline.resolvedStep(
        if (buffer.exists()) buffer.get().toSeq else Nil,
        if (ckpt.exists()) ckpt.get() else Long.MinValue, rows)
      // the store rejects empty list puts — clear() is the empty encoding
      if (buffered.isEmpty) buffer.clear()
      else buffer.put(buffered.toArray)
      ckpt.update(checkpoint)
      flushed.iterator
    }
  }

  /** Event-time session tracking with TIMERS: each key's open session
    * (start, end, count) lives in a ValueState; every batch re-arms an
    * event-time timer at session end + gap, and when the WATERMARK passes
    * it, handleExpiredTimer emits the closed session and clears state —
    * sessions close on stream-time progress, with no input row needed for
    * the closing key. The session_window aggregation (StreamOps) is the
    * declarative twin; this is the arbitrary-logic tier (e.g. per-session
    * emit-on-close side effects) with the same bounded-state guarantee.
    */
  final case class Session(startMs: Long, endMs: Long, count: Long)

  class TimedSessions(gapMs: Long)
      extends StatefulProcessor[String, (String, Long), (String, Long, Long, Long)] {
    @transient private var session: ValueState[Session] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[Session](
        "session", Encoders.product[Session], TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[(String, Long)],
        timerValues: TimerValues): Iterator[(String, Long, Long, Long)] = {
      var st = if (session.exists()) session.get() else Session(Long.MaxValue, Long.MinValue, 0L)
      rows.foreach { case (_, ts) =>
        st = Session(math.min(st.startMs, ts), math.max(st.endMs, ts), st.count + 1)
      }
      session.update(st)
      // re-arm: one timer at the current session's close time (stale
      // timers for earlier ends are deleted — at most one live timer/key)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(st.endMs + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: String,
        timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[(String, Long, Long, Long)] = {
      // the timer only fires once the watermark passed session end + gap;
      // a row arriving later than that would be late data by definition.
      // Guard: a stale timer can outlive a cleared/emitted session.
      if (!session.exists()) return Iterator.empty
      val st = session.get()
      session.clear()
      Iterator.single((key, st.startMs, st.endMs, st.count))
    }
  }

  /** Wires [[TimedSessions]] over (key, eventTimeMs) rows. The stream
    * must carry a watermarked event-time column named `eventTime`
    * (TimestampType) for TimeMode.EventTime to drive the timers.
    */
  def timedSessions(events: Dataset[(String, java.sql.Timestamp)], gapMs: Long)
      : Dataset[(String, Long, Long, Long)] = {
    implicit val enc = Encoders.product[(String, Long, Long, Long)]
    events
      .toDF("k", "eventTime")
      .withWatermark("eventTime", "0 seconds")
      .as[(String, java.sql.Timestamp)](Encoders.product[(String, java.sql.Timestamp)])
      .map(r => (r._1, r._2.getTime))(Encoders.product[(String, Long)])
      .groupByKey(_._1)(Encoders.STRING)
      .transformWithState(
        new TimedSessions(gapMs), TimeMode.EventTime(), OutputMode.Append(), enc)
  }

  /** Wires [[ResolvedFlush]] over a decoded CDC event stream, keyed by
    * table — the transformWithState twin of
    * [[CdcPipeline.resolvedFlushStream]].
    */
  def resolvedFlushStream(
      spark: SparkSession, events: Dataset[ChangeEvent]): Dataset[CdcPipeline.FlushedEvent] = {
    implicit val enc = Encoders.product[CdcPipeline.FlushedEvent]
    events
      .groupByKey(_.tableName)(Encoders.STRING)
      .transformWithState(
        new ResolvedFlush, TimeMode.None(), OutputMode.Append(), enc)
  }
}
